package graft.functions

/** Detector regex bank — the reference's compiled class-level patterns,
  * re-expressed for Java `java.util.regex`.
  *
  * Sources (all patterns are ASCII character classes, so the Python→Java
  * port is semantics-preserving; Java `\d`/`\w` are ASCII-only by default
  * which matches the ASCII classes used here):
  *  - semantic patterns: `/root/reference/backend/src/processors/semantic_detector.py:20-51`
  *  - PII patterns:      `/root/reference/backend/src/processors/pii_detector.py:16-19`
  *  - Mongo ObjectId:    `/root/reference/backend/src/processors/mongodb_parser.py:28`
  *
  * Anchored forms (`^...$`) are used for whole-value semantic/PII
  * classification (the reference uses `.match()` = anchored-at-start; all
  * its patterns also end in `$` or match full strings). De-anchored forms
  * with explicit ASCII lookarounds (NOT `\b`, whose word-char set differs
  * between Java (ASCII) and Python 3 (Unicode)) are used by the in-text
  * scrubber so both the Scala engine and the Python golden oracle match the
  * exact same byte spans.
  */
object Patterns {
  // ---- anchored, whole-value (semantic_detector.py) ----
  val Email = "^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$"
  val SsnSemantic = "^(?:\\d{3}-\\d{2}-\\d{4}|\\d{9})$"
  val CreditCardSemantic =
    "^(?:\\*{12}\\d{4}|\\d{4}[\\s-]?\\d{4}[\\s-]?\\d{4}[\\s-]?\\d{4}|\\d{4})$"
  val Phone =
    "^[\\+]?[1]?[\\s.-]?[(]?[0-9]{3}[)]?[\\s.-]?[0-9]{3}[\\s.-]?[0-9]{4}$"
  val Url = "^https?://[^\\s]+$"
  // reference compiles with re.I → embed (?i)
  val Uuid =
    "(?i)^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
  val ZipCode = "^\\d{5}(-\\d{4})?$"
  val Identifier = "^[a-zA-Z0-9_-]+$"

  // ---- anchored, whole-value (pii_detector.py:16-19) ----
  val SsnPii = "^\\d{3}-\\d{2}-\\d{4}$"
  val CreditCardPii = "^\\d{4}[\\s-]?\\d{4}[\\s-]?\\d{4}[\\s-]?\\d{4}$"

  // ---- mongodb_parser.py:28 ----
  val MongoObjectId = "^[a-f0-9]{24}$"

  /** The 6 strptime formats of `semantic_detector.py:44-51`, as Spark
    * datetime patterns (for `to_timestamp`). `%f`=fraction → `SSSSSS`;
    * trailing literal `Z` quoted.
    */
  val DateFormats: Seq[String] = Seq(
    "yyyy-MM-dd",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'",
    "MM/dd/yyyy",
    "dd/MM/yyyy"
  )

  // ---- scrubber bank (in-text, de-anchored; north rule) ----
  // Order matters and is part of the contract: each pattern is applied as a
  // full sequential pass over the output of the previous one, identically in
  // the Scala engine and the Python oracle (tools/make_golden.py). The
  // engine skips a pass whose gate (ScrubRule.gate, a necessary condition
  // for a match, checked on the current string) is false; that changes no
  // output byte.
  // Lookarounds use explicit ASCII classes so Java and Python agree byte-for-
  // byte on every match span (see note on \b above).

  /** In-text email; same char classes as `semantic_detector.py:20`. */
  val ScrubEmail = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"

  /** AWS access-key id (north rule's added pattern; public AWS format). */
  val ScrubAwsKey = "(?<![A-Z0-9])AKIA[0-9A-Z]{16}(?![A-Z0-9])"

  /** In-text SSN; digits+dashes form of `pii_detector.py:16`. */
  val ScrubSsn = "(?<![0-9-])[0-9]{3}-[0-9]{2}-[0-9]{4}(?![0-9-])"

  /** In-text US phone: optional +1/1 prefix then NNN-NNN-NNNN with
    * consistent `.`/`-`/space separators or (NNN) form — a bounded,
    * engine-portable subset of `semantic_detector.py:29`.
    */
  val ScrubPhone =
    "(?<![0-9)])(?:\\+?1[-. ])?(?:\\([0-9]{3}\\)[-. ]?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}(?![0-9-])"

  /** In-text 16-digit card candidate (`pii_detector.py:19` de-anchored);
    * replacement additionally requires Luhn validity (`pii_detector.py:75-96`).
    */
  val ScrubCreditCard =
    "(?<![0-9-])[0-9]{4}([ -]?)[0-9]{4}\\1[0-9]{4}\\1[0-9]{4}(?![0-9-])"

  /** Toxicity word list (small fixed demo set; case-insensitive, ASCII
    * letter boundaries).
    */
  val ToxicWords: Seq[String] = Seq("frak", "gorram", "smeg", "belgium")
  val ScrubToxic: String =
    "(?i)(?<![a-zA-Z])(?:" + ToxicWords.mkString("|") + ")(?![a-zA-Z])"

  /** One scrub pass: `regex` is replaced by `replacement` (a credit-card
    * candidate only when its digits are Luhn-valid), and `name` joins the
    * row's `pii_types` when at least one replacement happened.
    *
    * `gate` is a necessary condition for a match: whenever
    * `Pattern.compile(regex).matcher(s).find()` holds, `gate(s)` holds (it
    * tests the pattern's core with its lookarounds ignored). The scrubber
    * evaluates it on the current string — the output of the earlier passes,
    * since a replacement can create or remove a later pattern's candidate —
    * and skips the regex pass when it is false. A skipped pass cannot
    * match, so the output is byte-identical to running every pass.
    * Gates are allocation-free scans.
    */
  final case class ScrubRule(name: String, regex: String, replacement: String,
      luhn: Boolean, gate: String => Boolean)

  /** The scrub passes in application order; each gate sits beside the
    * pattern it must cover.
    */
  val ScrubBank: Seq[ScrubRule] = Seq(
    ScrubRule("email", ScrubEmail, "<EMAIL>", luhn = false,
      _.indexOf('@') >= 0),
    ScrubRule("aws_key", ScrubAwsKey, "<AWS_KEY>", luhn = false,
      _.indexOf("AKIA") >= 0),
    ScrubRule("ssn", ScrubSsn, "<SSN>", luhn = false, hasSsnShape),
    ScrubRule("credit_card", ScrubCreditCard, "<CREDIT_CARD>", luhn = true,
      hasCardCore),
    ScrubRule("phone", ScrubPhone, "<PHONE>", luhn = false, hasPhoneCore),
    ScrubRule("toxic", ScrubToxic, "<TOXIC>", luhn = false, hasToxicWord)
  )

  // ---- scrub gates (see ScrubRule) ----

  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** `s(from until from + n)` lies inside `s` and is all ASCII digits. */
  private def digitsAt(s: String, from: Int, n: Int): Boolean = {
    if (from < 0 || from + n > s.length) return false
    var k = from
    while (k < from + n) {
      if (!isDigit(s.charAt(k))) return false
      k += 1
    }
    true
  }

  /** `s` contains `[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}`: the
    * card pattern's core without its same-separator backreference. After
    * four digits a `' '` or `'-'` can only be the optional separator, so
    * the scan from each start is deterministic.
    */
  private def hasCardCore(s: String): Boolean = {
    var i = 0
    while (i + 16 <= s.length) {
      var pos = i
      var groups = 0
      while (groups < 4 && digitsAt(s, pos, 4)) {
        pos += 4
        groups += 1
        if (pos < s.length && (s.charAt(pos) == ' ' || s.charAt(pos) == '-')) pos += 1
      }
      if (groups == 4) return true
      i += 1
    }
    false
  }

  /** `s` contains `[0-9]{3}-[0-9]{2}-[0-9]{4}`: the SSN pattern's core. */
  private def hasSsnShape(s: String): Boolean = {
    var i = s.indexOf('-', 3)
    while (i >= 0) {
      if (digitsAt(s, i - 3, 3) && digitsAt(s, i + 1, 2) &&
          i + 3 < s.length && s.charAt(i + 3) == '-' && digitsAt(s, i + 4, 4))
        return true
      i = s.indexOf('-', i + 1)
    }
    false
  }

  @inline private def isPhoneSep(c: Char): Boolean =
    c == '-' || c == '.' || c == ' '

  /** `s` contains `(\([0-9]{3}\)[-. ]?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}`:
    * the phone pattern's core without its optional `+1` prefix. Each
    * offset `i` is tried as the start of the `[0-9]{3}[-. ][0-9]{4}` tail,
    * which at least 4 chars of area code must precede.
    */
  private def hasPhoneCore(s: String): Boolean = {
    var i = 4
    while (i + 8 <= s.length) {
      if (digitsAt(s, i, 3) && isPhoneSep(s.charAt(i + 3)) &&
          digitsAt(s, i + 4, 4) && phoneAreaEndsAt(s, i))
        return true
      i += 1
    }
    false
  }

  /** `s(0 until end)` ends with `\([0-9]{3}\)[-. ]?` or `[0-9]{3}[-. ]`. */
  private def phoneAreaEndsAt(s: String, end: Int): Boolean =
    if (isPhoneSep(s.charAt(end - 1)))
      digitsAt(s, end - 4, 3) || parenAreaEndsAt(s, end - 1)
    else parenAreaEndsAt(s, end)

  /** `s(0 until end)` ends with `\([0-9]{3}\)`. */
  private def parenAreaEndsAt(s: String, end: Int): Boolean =
    end >= 5 && s.charAt(end - 1) == ')' && digitsAt(s, end - 4, 3) &&
      s.charAt(end - 5) == '('

  private val toxicLower: Array[String] = {
    require(ToxicWords.forall(w => w.nonEmpty && w.forall(c => c >= 'a' && c <= 'z')),
      "toxic words must be lowercase ASCII for the fold in hasToxicWord")
    ToxicWords.toArray
  }

  /** `toxicFirst(c)`: some toxic word starts with the lowercase letter `c`. */
  private val toxicFirst: Array[Boolean] = {
    val t = new Array[Boolean](128)
    toxicLower.foreach(w => t(w.charAt(0)) = true)
    t
  }

  /** `s` contains a toxic word under ASCII case folding — the folding that
    * `(?i)` applies without UNICODE_CASE, so non-ASCII look-alikes (`ſ`,
    * the Kelvin sign) match neither the gate nor the pattern.
    */
  private def hasToxicWord(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i) | 0x20
      if (c < 128 && toxicFirst(c)) {
        var w = 0
        while (w < toxicLower.length) {
          if (foldedAt(s, i, toxicLower(w))) return true
          w += 1
        }
      }
      i += 1
    }
    false
  }

  /** `s` holds `lower` at `at`, ASCII letters compared case-insensitively
    * (`c | 0x20` maps exactly 'A'-'Z' onto 'a'-'z' among the chars that
    * can equal a lowercase letter).
    */
  private def foldedAt(s: String, at: Int, lower: String): Boolean = {
    if (at + lower.length > s.length) return false
    var j = 0
    while (j < lower.length) {
      if ((s.charAt(at + j) | 0x20) != lower.charAt(j)) return false
      j += 1
    }
    true
  }

  /** Luhn checksum over a digit string — `pii_detector.py:83-96`. */
  def luhnValid(digits: String): Boolean = {
    if (digits.isEmpty || !digits.forall(_.isDigit)) return false
    var checksum = 0
    var i = digits.length - 1
    var odd = true // rightmost digit is "odd" position (1-indexed from right)
    while (i >= 0) {
      val d = digits.charAt(i) - '0'
      if (odd) checksum += d
      else {
        val dd = d * 2
        checksum += (if (dd > 9) dd - 9 else dd)
      }
      odd = !odd
      i -= 1
    }
    checksum % 10 == 0
  }
}
