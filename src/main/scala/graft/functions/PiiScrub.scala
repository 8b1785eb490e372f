package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Sequential gated PII/toxicity scrubber (north rule; SURVEY.md §2.9 U1).
  *
  * The pattern bank mirrors the reference's class-level compiled regexes
  * (`semantic_detector.py:20-41`, `pii_detector.py:16-19`) — compiled ONCE
  * per JVM in this object's static init, exactly like the reference compiles
  * them once per class. The six patterns of [[Patterns.ScrubBank]] run as
  * sequential passes in its fixed order, each over the output of the one
  * before; the credit-card pattern additionally requires a Luhn-valid digit
  * string (`pii_detector.py:75-96`) before replacing.
  *
  * Gate contract: before a pass, its rule's `gate` — a cheap necessary
  * condition for a match of that pattern — is evaluated on the current
  * string, and a false gate skips the regex pass. Since a pass whose gate is
  * false cannot match, the scrubbed bytes and `pii_types` are identical to
  * running every pass; the gate only saves the regex's attempt at every
  * character offset (and the email pattern's backtracking) on rows that
  * cannot match.
  *
  * Byte-identity contract: the Python golden oracle (tools/make_golden.py)
  * applies the same bank with `re.sub` in the same order; all patterns use
  * explicit ASCII classes and lookarounds so both engines select identical
  * match spans (no `\b`, no `\d`-vs-Unicode divergence).
  */
object PiiScrub {
  private val bank: Array[(Patterns.ScrubRule, Pattern)] =
    Patterns.ScrubBank.map(r => (r, Pattern.compile(r.regex))).toArray

  /** Scrub `s`; returns (scrubbed, distinct pii types found in bank order). */
  def scrubWithTypes(s: String): (String, Array[String]) = {
    var cur = s
    val found = new scala.collection.mutable.ArrayBuffer[String](4)
    var i = 0
    while (i < bank.length) {
      val (rule, p) = bank(i)
      if (rule.gate(cur)) {
        val m = p.matcher(cur)
        if (m.find()) {
          val sb = new java.lang.StringBuilder(cur.length)
          var hit = false
          var last = 0
          do {
            val ok = !rule.luhn ||
              Patterns.luhnValid(stripSpaceDash(cur, m.start, m.end))
            if (ok) {
              sb.append(cur, last, m.start).append(rule.replacement)
              last = m.end
              hit = true
            }
          } while (m.find())
          sb.append(cur, last, cur.length)
          if (hit) {
            cur = sb.toString
            found += rule.name
          }
        }
      }
      i += 1
    }
    (cur, found.toArray)
  }

  /** `s.substring(from, to).replaceAll("[\\s-]", "")` without compiling a
    * pattern per call: drops `-` and Java's `\s` set `[ \t\n\x0B\f\r]`.
    */
  private def stripSpaceDash(s: String, from: Int, to: Int): String = {
    val sb = new java.lang.StringBuilder(to - from)
    var k = from
    while (k < to) {
      val c = s.charAt(k)
      if (!(c == '-' || c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
          c == '\f' || c == '\r'))
        sb.append(c)
      k += 1
    }
    sb.toString
  }

  /** Codegen entry point: UTF8String in → InternalRow(scrubbed, types[]). */
  def scrubRow(s: UTF8String): InternalRow = {
    val (out, types) = scrubWithTypes(s.toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        UTF8String.fromString(out),
        new GenericArrayData(types.map(UTF8String.fromString(_): Any))))
  }

  val outputType: StructType = StructType(Seq(
    StructField("scrubbed", StringType, nullable = false),
    StructField("pii_types", ArrayType(StringType, containsNull = false),
      nullable = false)))

  /** Column API: `scrub_pii(col)` → struct(scrubbed, pii_types). */
  def scrub_pii(c: Column): Column =
    Bridge.column(ScrubPiiExpr(Bridge.expression(c)))
}

/** Catalyst expression wrapping [[PiiScrub]]; stays inside whole-stage
  * codegen via a static call (regex work dominates, so no per-row
  * interpretation overhead matters beyond that).
  */
case class ScrubPiiExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = PiiScrub.outputType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "scrub_pii"

  override def nullSafeEval(input: Any): Any =
    PiiScrub.scrubRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.PiiScrub.scrubRow($c);")

  override protected def withNewChildInternal(newChild: Expression): ScrubPiiExpr =
    copy(child = newChild)
}
