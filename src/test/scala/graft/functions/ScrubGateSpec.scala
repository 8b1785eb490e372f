package graft.functions

import java.util.regex.Pattern

import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Corpus
import graft.jobs.BuildFixtures

/** Differential check of the scrubber's per-pattern gates
  * ([[Patterns.ScrubRule]]): every gate is a necessary condition for its
  * pattern, and the gated scrubber equals an ungated sequential reference
  * on the golden corpus, two benchmark windows, near-miss text and chained
  * replacements.
  */
class ScrubGateSpec extends AnyFunSuite {

  private val compiled: Seq[(Patterns.ScrubRule, Pattern)] =
    Patterns.ScrubBank.map(r => (r, Pattern.compile(r.regex)))

  /** The ungated bank: every pattern as a full pass over the previous
    * pass's output, with the Luhn strip done by `replaceAll`.
    */
  private def reference(s: String): (String, Seq[String]) = {
    var cur = s
    val found = Seq.newBuilder[String]
    compiled.foreach { case (rule, p) =>
      val m = p.matcher(cur)
      val sb = new java.lang.StringBuilder
      var hit = false
      var last = 0
      while (m.find()) {
        if (!rule.luhn || Patterns.luhnValid(
            cur.substring(m.start, m.end).replaceAll("[\\s-]", ""))) {
          sb.append(cur, last, m.start).append(rule.replacement)
          last = m.end
          hit = true
        }
      }
      if (hit) {
        cur = sb.append(cur, last, cur.length).toString
        found += rule.name
      }
    }
    (cur, found.result())
  }

  private def gated(s: String): (String, Seq[String]) = {
    val (out, types) = PiiScrub.scrubWithTypes(s)
    (out, types.toSeq)
  }

  private def check(p: Prop, n: Int): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  // ---- near-miss generator ----

  private def digits(n: Int): Gen[String] =
    Gen.listOfN(n, Gen.choose('0', '9')).map(_.mkString)
  private val sep: Gen[String] = Gen.oneOf("-", ".", " ", "(", ")", "")
  private val upperAlnum: Gen[Char] =
    Gen.oneOf(('A' to 'Z') ++ ('0' to '9'))

  /** Runs of 2-5 digits joined by phone/SSN/card separators. */
  private val digitGroups: Gen[String] = for {
    k <- Gen.choose(1, 5)
    groups <- Gen.listOfN(k, Gen.choose(2, 5).flatMap(digits))
    seps <- Gen.listOfN(k, sep)
  } yield groups.zip(seps).map { case (g, s) => g + s }.mkString

  private val phoneish: Gen[String] = for {
    pre <- Gen.oneOf("", "", "+1 ", "1-", "1.", "+1-", "1")
    area <- digits(3)
    areaForm <- Gen.oneOf(s"$area-", s"$area.", s"$area ", s"($area)",
      s"($area) ", s"($area)-", area)
    mid <- Gen.choose(2, 4).flatMap(digits)
    s2 <- Gen.oneOf("-", ".", " ", "", "/")
    tail <- Gen.choose(3, 5).flatMap(digits)
  } yield pre + areaForm + mid + s2 + tail

  /** Phone-gate near misses: an area code with nothing after it, the
    * 7-digit tail alone, and a 10-digit run with no separator.
    */
  private val phoneNearMiss: Gen[String] = Gen.oneOf(
    for { a <- digits(3); post <- Gen.oneOf("", " ", "-", "x") }
      yield s"($a)$post",
    for { a <- digits(3); s1 <- Gen.oneOf("-", ".", " "); b <- digits(4) }
      yield a + s1 + b,
    digits(10))

  private val ssnish: Gen[String] = Gen.oneOf(
    for { a <- digits(3); b <- digits(2); c <- digits(4) } yield s"$a-$b-$c",
    for {
      a <- Gen.choose(2, 4).flatMap(digits)
      b <- Gen.choose(1, 3).flatMap(digits)
      c <- Gen.choose(3, 5).flatMap(digits)
      s1 <- Gen.oneOf("-", "-", " ", ".")
      s2 <- Gen.oneOf("-", "-", " ", "--")
    } yield a + s1 + b + s2 + c)

  private val cardish: Gen[String] = Gen.oneOf(
    Gen.oneOf("4242 4242 4242 4242", "4111-1111-1111-1111",
      "4111111111111111", "4242 4242-4242 4242", "4242 4242 4242 4241"),
    for {
      groups <- Gen.listOfN(4, Gen.choose(3, 5).flatMap(digits))
      s <- Gen.oneOf(" ", "-", "")
    } yield groups.mkString(s))

  private val emailish: Gen[String] = Gen.oneOf(
    Gen.oneOf("a@", "@", "x.y@example", "john.doe@example.com", "a@b.c",
      "a@b.co", "@@x.io", "me+tag@host-1.org", "@example.com", "x@.co"),
    Gen.alphaNumStr.map(w => s"${w.take(5)}@"))

  private val akiaish: Gen[String] = Gen.oneOf(
    Gen.oneOf("akia", "AKIA", "Akia", "AKIA 0123456789ABCDEF"),
    for {
      n <- Gen.oneOf(15, 16, 16, 17)
      body <- Gen.listOfN(n, upperAlnum).map(_.mkString)
      pre <- Gen.oneOf("", "", "x", "X", "9", "=")
      post <- Gen.oneOf("", "", "x", "X", "9", " ")
    } yield s"${pre}AKIA$body$post")

  private val toxicish: Gen[String] = for {
    w <- Gen.oneOf(Patterns.ToxicWords)
    flips <- Gen.listOfN(w.length, Gen.oneOf(true, false))
    pre <- Gen.oneOf("", "", "x", "un", "9", "_")
    post <- Gen.oneOf("", "", "ing", "s", "1", "!")
  } yield pre + w.zip(flips).map { case (c, up) =>
    if (up) c.toUpper else c }.mkString + post

  /** Non-ASCII look-alikes: Arabic-Indic and fullwidth digits, long s
    * (`ſ`), the Kelvin sign, fullwidth `@` and `AKIA`.
    */
  private val lookalike: Gen[String] = Gen.oneOf(
    "\u0661\u0662\u0663-\u0664\u0665-\u0666\u0667\u0668\u0669",
    "\uFF15\uFF15\uFF15-\uFF11\uFF12\uFF13-\uFF14\uFF15\uFF16\uFF17",
    "\uFF14\uFF12\uFF14\uFF12", "\u017Fmeg", "\u017FMEG", "fra\u212A",
    "FRA\u212A", "go\u0433\u0433am", "a\uFF20b.co", "\uFF21\uFF2B\uFF29\uFF21",
    "555\u2013123\u20134567")

  private val filler: Gen[String] = Gen.oneOf(
    Gen.oneOf(" ", "\n", "\t", "x", "the ", "-", ".", "(", ")", "@", "1"),
    Gen.alphaNumStr.map(_.take(6)))

  /** Pieces, each followed by nothing (so lookarounds see the next piece)
    * or by a space or newline.
    */
  private val nearMiss: Gen[String] = Gen.choose(1, 10).flatMap(n =>
    Gen.listOfN(n, for {
      piece <- Gen.frequency(
        4 -> filler, 3 -> digitGroups, 3 -> phoneish, 2 -> phoneNearMiss,
        2 -> ssnish,
        2 -> cardish, 2 -> emailish, 2 -> akiaish, 2 -> toxicish,
        2 -> lookalike)
      end <- Gen.oneOf("", "", " ", "\n")
    } yield piece + end).map(_.mkString))

  /** A fixed, seeded sample of the generator. */
  private lazy val sample: Seq[String] = {
    val params = Gen.Parameters.default
    (0 until 4000).flatMap(i => nearMiss.apply(params, Seed(i.toLong)))
  }

  // ---- chained replacements ----

  /** Inputs where an earlier pass creates or removes a later pattern's
    * candidate, with the expected scrub.
    */
  private val chains: Seq[(String, String, Seq[String])] = Seq(
    // created: the AWS key stops being the letter that guards `frak`
    ("AKIAABCDEFGHIJKLMNOPfrak", "<AWS_KEY><TOXIC>", Seq("aws_key", "toxic")),
    ("frakAKIAABCDEFGHIJKLMNOP", "<TOXIC><AWS_KEY>", Seq("aws_key", "toxic")),
    // created: the SSN / card stops being the digit before `(NNN)`
    ("123-45-6789(555) 123-4567", "<SSN><PHONE>", Seq("ssn", "phone")),
    ("4242 4242 4242 4242(555) 123-4567", "<CREDIT_CARD><PHONE>",
      Seq("credit_card", "phone")),
    // removed: the email swallows a later candidate
    ("frak.x@example.com", "<EMAIL>", Seq("email")),
    ("555-123-4567@example.com", "<EMAIL>", Seq("email")),
    ("123-45-6789@example.com", "<EMAIL>", Seq("email")),
    ("4242424242424242@example.com", "<EMAIL>", Seq("email")),
    // not created: a Luhn-invalid card is left for the phone pass to see
    ("4242 4242 4242 4241(555) 123-4567",
      "4242 4242 4242 4241(555) 123-4567", Seq()))

  test("every gate is a necessary condition for its pattern (property)") {
    compiled.foreach { case (rule, p) =>
      check(Prop.forAll(nearMiss) { s =>
        Prop(!p.matcher(s).find() || rule.gate(s)) :| s"${rule.name} on <$s>"
      }, 1000)
    }
  }

  test("gates hold on a seeded sample that hits and misses every pattern") {
    compiled.foreach { case (rule, p) =>
      val matched = sample.filter(s => p.matcher(s).find())
      val missed = matched.filterNot(rule.gate)
      assert(missed.isEmpty, s"${rule.name} gate false on a match: ${missed.take(3)}")
      assert(matched.size >= 100, s"${rule.name}: only ${matched.size} matches")
      assert(sample.count(s => rule.gate(s) && !p.matcher(s).find()) >= 20,
        s"${rule.name}: the sample has too few near misses")
    }
  }

  test("non-ASCII look-alikes match neither the patterns nor the gates") {
    val los = Seq("\u0661\u0662\u0663-\u0664\u0665-\u0666\u0667\u0668\u0669",
      "\uFF14\uFF12\uFF14\uFF12 \uFF14\uFF12\uFF14\uFF12", "\u017Fmeg",
      "fra\u212A", "a\uFF20b.co", "\uFF21\uFF2B\uFF29\uFF21",
      "555\u2013123\u2013456")
    for (s <- los; (rule, p) <- compiled) {
      assert(!p.matcher(s).find(), s"${rule.name} matches <$s>")
      assert(!rule.gate(s), s"${rule.name} gate true on <$s>")
    }
  }

  test("gated scrubber == ungated reference on near-miss text") {
    sample.foreach(s => assert(gated(s) == reference(s), s))
    check(Prop.forAll(nearMiss)(s => gated(s) == reference(s)), 1000)
  }

  test("chained replacements: created and removed candidates") {
    chains.foreach { case (in, out, types) =>
      assert(reference(in) == ((out, types)), in)
      assert(gated(in) == ((out, types)), in)
    }
    // the created candidates are not matches in the raw input
    val byName = compiled.map { case (r, p) => r.name -> p }.toMap
    Seq("AKIAABCDEFGHIJKLMNOPfrak" -> "toxic", "frakAKIAABCDEFGHIJKLMNOP" -> "toxic",
      "123-45-6789(555) 123-4567" -> "phone",
      "4242 4242 4242 4242(555) 123-4567" -> "phone").foreach { case (in, name) =>
      assert(!byName(name).matcher(in).find(), s"$name already matches <$in>")
    }
  }

  test("gated scrubber == ungated reference on the golden corpus and two windows") {
    // the golden corpus is Corpus.genRow over ids [0, TinyRows); the
    // windows are the filter benchmark's for seeds 3 and 1009
    val ids = (0L until BuildFixtures.TinyRows) ++
      Seq(3L, 1009L).flatMap { seed =>
        val off = 1000000L + seed * 100000L
        off until off + 2000L
      }
    var piiRows = 0
    ids.foreach { id =>
      val s = Corpus.genRow(id).content
      val want = reference(s)
      assert(gated(s) == want, s"row $id")
      if (want._2.nonEmpty) piiRows += 1
    }
    assert(piiRows > 500, s"only $piiRows rows with PII")
  }
}
