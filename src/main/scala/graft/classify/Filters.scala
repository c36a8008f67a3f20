package graft.classify

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Page-level predicates F1-F10 of the reference, each in two exactly-matching
  * forms: a pure-Scala function (used by the per-partition typed pipeline and
  * by test oracles) and a Catalyst `Column` form (used by the exploded
  * declarative pipeline). Both forms share the same Java regex pattern
  * strings, and Spark's regexp_* expressions evaluate via java.util.regex, so
  * the two forms agree character-for-character.
  *
  * Reference: policy_filter.py:26-41,111-152; policy_additional_interests.py:29-56;
  * policy_extract.py:123-153,377-382.
  */
object Filters {

  // ---------------------------------------------------------------- F1 -----
  /** Dollar page filter: page kept iff it contains `$ <amount>` with
    * comma-stripped integer value >= 200, unless the page (uppercased)
    * contains a skip word. Reference: policy_filter.py:111-138.
    */
  val MinDollarAmount = 200
  val SkipWords: Seq[String] =
    Seq("EXAMPLE", "CALCULATION", "HOW TO", "SAMPLE", "ILLUSTRATION")
  val DollarPattern = "\\$\\s*([0-9,]+)"
  private val DollarRe = java.util.regex.Pattern.compile(DollarPattern)

  def f1DollarPage(text: String): Boolean = {
    if (text == null) return false
    val upper = text.toUpperCase
    if (SkipWords.exists(upper.contains)) return false
    f1DollarAmount(text)
  }

  /** The dollar-amount half of F1 (no skip-word check) — shared with the
    * single-cased-copy hot path [[f1DollarPageLowered]]. */
  private def f1DollarAmount(text: String): Boolean = {
    val m = DollarRe.matcher(text)
    while (m.find()) {
      val digits = m.group(1).replace(",", "")
      if (digits.nonEmpty && BigInt(digits) >= MinDollarAmount) return true
    }
    false
  }

  private val LowerSkipWords = SkipWords.map(_.toLowerCase)

  /** True iff every char is ASCII — the precondition under which a single
    * shared lowercase copy decides F1's skip words (uppercase semantics) and
    * F2's keywords (lowercase semantics) identically. Outside ASCII the two
    * case foldings diverge (ſ U+017F uppercases into 'S' but lowercases to
    * itself; K U+212A lowercases into 'k' but uppercases to itself), so
    * callers must fall back to the per-filter cased copies. */
  def isAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) >= 128) return false; i += 1 }
    true
  }

  /** F1 over a caller-supplied lowercase copy of `text`: skip words checked
    * on `lower` (≡ the uppercase check for ASCII input — callers gate on
    * [[isAscii]]), amounts on the original. Lets the EP1 hot path
    * materialize ONE cased copy per span shared by F1+F2 instead of one per
    * filter (case copies were the top allocator after the strip fix;
    * `String.contains` stays on the intrinsified indexOf, which a
    * fold-as-you-scan loop is ~10x slower than — measured, not guessed). */
  def f1DollarPageLowered(text: String, lower: String): Boolean = {
    if (text == null) return false
    if (LowerSkipWords.exists(lower.contains)) return false
    f1DollarAmount(text)
  }

  /** Catalyst twin of [[f1DollarPage]]. ANSI-safe: the cast is guarded so it
    * never sees a non-numeric or oversized string.
    */
  def f1DollarPageCol(text: Column): Column = {
    val hasSkip = SkipWords
      .map(w => upper(text).contains(lit(w)))
      .reduce(_ || _)
    // strip commas then leading zeros; >=4 digits is always >= 200
    val qualifies = exists(
      regexp_extract_all(text, lit(DollarPattern), lit(1)),
      x => {
        val d = regexp_replace(translate(x, ",", ""), "^0+", "")
        (length(d) >= 4) || (length(d) > 0 && d.cast("int") >= MinDollarAmount)
      })
    !hasSkip && coalesce(qualifies, lit(false))
  }

  // ---------------------------------------------------------------- F2 -----
  /** Additional-interest keyword filter (15 phrases), case-insensitive
    * substring containment. Reference: policy_filter.py:26-41,140-152.
    */
  val InterestKeywords: Seq[String] = Seq(
    "additional interest", "additional interests",
    "additional insured", "additional insureds",
    "mortgagee", "mortgage holder", "mortgage holders", "mortgagees",
    "loss payee", "loss payable",
    "lienholder", "lien holder",
    "secured party", "secured parties")

  def f2Keyword(text: String): Boolean =
    text != null && {
      val low = text.toLowerCase
      InterestKeywords.exists(low.contains)
    }

  /** F2 over a caller-supplied lowercase copy (see [[f1DollarPageLowered]]). */
  def f2KeywordLowered(lower: String): Boolean =
    lower != null && InterestKeywords.exists(lower.contains)

  def f2KeywordCol(text: Column): Column = {
    val pat = InterestKeywords.map(java.util.regex.Pattern.quote).mkString("|")
    lower(text).rlike(pat)
  }

  // ---------------------------------------------------------------- F3 -----
  /** Looser dollar filter: `$d`, comma-grouped number, or >=5-digit block.
    * Reference: policy_additional_interests.py:54-56,93-100.
    */
  val LooseDollarPattern =
    "\\$\\s*\\d|\\b\\d{1,3}(?:,\\d{3})+(?:\\.\\d+)?\\b|\\b\\d{5,}\\b"
  private val LooseDollarRe = java.util.regex.Pattern.compile(LooseDollarPattern)

  def f3LooseDollar(text: String): Boolean =
    text != null && LooseDollarRe.matcher(text).find()

  def f3LooseDollarCol(text: Column): Column = text.rlike(LooseDollarPattern)

  // ---------------------------------------------------------------- F4 -----
  /** Extended keyword filter (20 phrases, superset of F2).
    * Reference: policy_additional_interests.py:29-51.
    */
  val ExtendedKeywords: Seq[String] = InterestKeywords ++ Seq(
    "payee",
    "mortgage holder name", "mortgagee address",
    "mortgagee city", "mortgagee city state zipcode")

  def f4ExtendedKeyword(text: String): Boolean =
    text != null && {
      val low = text.toLowerCase
      ExtendedKeywords.exists(low.contains)
    }

  def f4ExtendedKeywordCol(text: Column): Column = {
    val pat = ExtendedKeywords.map(java.util.regex.Pattern.quote).mkString("|")
    lower(text).rlike(pat)
  }

  // ---------------------------------------------------------------- F5 -----
  /** Gibberish/empty classifier (boilerplate-density predicate). A page is
    * "bad" iff: stripped length < 10; OR <10% non-whitespace in the first
    * 500 chars; OR >30% control chars; OR <20% ASCII letters; OR >30% weird
    * (non-ASCII non-alphanumeric) chars. Reference: policy_extract.py:123-153.
    */
  def f5Gibberish(text: String): Boolean = {
    if (text == null || text.strip().length < 10) return true
    val end = math.min(text.length, 500)
    val n = end.toDouble
    // single pass over the sample; counts mirror the reference exactly
    var nonWs = 0; var nonPrintable = 0; var engLetters = 0; var weird = 0
    val punct = ".,;:!?()-'\" \n\r\t"
    var i = 0
    while (i < end) {
      val c = text.charAt(i)
      if (!Character.isWhitespace(c)) nonWs += 1
      if (c < 32 && c != '\n' && c != '\r' && c != '\t') nonPrintable += 1
      if (c < 128 && Character.isLetter(c)) engLetters += 1
      if (!(Character.isLetterOrDigit(c) || punct.indexOf(c.toInt) >= 0 || c < 128)) weird += 1
      i += 1
    }
    nonWs / n < 0.1 || nonPrintable / n > 0.3 ||
      engLetters / n < 0.2 || weird / n > 0.3
  }

  /** Catalyst twin of [[f5Gibberish]]. `\p{javaWhitespace}` and
    * `\p{javaLetterOrDigit}` match Character.isWhitespace/isLetterOrDigit
    * exactly, keeping the two forms in lockstep.
    */
  def f5GibberishCol(text: Column): Column = {
    def cnt(c: Column, pattern: String): Column =
      length(c) - length(regexp_replace(c, pattern, ""))
    val stripped =
      regexp_replace(text, "^\\p{javaWhitespace}+|\\p{javaWhitespace}+$", "")
    val sample = substring(text, 1, 500)
    val n = greatest(length(sample), lit(1)).cast("double")
    val nonWs = n - cnt(sample, "\\p{javaWhitespace}").cast("double")
    val nonPrintable = cnt(sample, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]").cast("double")
    val engLetters = cnt(sample, "[A-Za-z]").cast("double")
    val weird =
      cnt(sample, "[[^\\x00-\\x7F]&&[^\\p{javaLetterOrDigit}.,;:!?()\\-'\" \n\r\t]]")
        .cast("double")
    text.isNull ||
      (length(stripped) < 10) ||
      (nonWs / n < 0.1) ||
      (nonPrintable / n > 0.3) ||
      (engLetters / n < 0.2) ||
      (weird / n > 0.3)
  }

  // ---------------------------------------------------------------- F6 -----
  /** Non-printable scrub + space collapse. Reference: policy_extract.py:377-382. */
  private val NonPrintablePattern = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"

  def f6Scrub(text: String): String =
    if (text == null) null
    else text.replaceAll(NonPrintablePattern, " ").replaceAll(" +", " ")

  def f6ScrubCol(text: Column): Column =
    regexp_replace(regexp_replace(text, NonPrintablePattern, " "), " +", " ")

  // ---------------------------------------------------------------- F7 -----
  /** Per-tier validation: reject an extraction tier's candidate text when
    * more than 20% of its first 500 chars are non-printable.
    * Reference: policy_extract.py:349-353,362-366.
    */
  def f7TierInvalid(text: String): Boolean = {
    if (text == null || text.isEmpty) return true
    val sample = if (text.length > 500) text.substring(0, 500) else text
    val nonPrintable =
      sample.count(c => c < 32 && c != '\n' && c != '\r' && c != '\t')
    nonPrintable.toDouble / sample.length > 0.2
  }

  def f7TierInvalidCol(text: Column): Column = {
    val sample = substring(text, 1, 500)
    val n = greatest(length(sample), lit(1)).cast("double")
    val nonPrintable =
      (length(sample) - length(regexp_replace(sample, NonPrintablePattern, "")))
        .cast("double")
    text.isNull || length(text) === 0 || nonPrintable / n > 0.2
  }

  // ---------------------------------------------------------------- F8 -----
  /** Blank/placeholder money scrub: null/empty dropped upstream; `$`,
    * `$0.00`, `$ 0.00` normalized to `$0`. Reference: llm_gl_pol_cov.py:51-60.
    */
  def f8ScrubMoney(v: String): Option[String] = {
    if (v == null) return None
    val t = v.strip()
    if (t.isEmpty) None
    else if (t == "$" || t == "$0.00" || t == "$ 0.00") Some("$0")
    else Some(t)
  }
}
