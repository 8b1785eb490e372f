package graft.filter

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Heuristic keep/drop rules (north rule: "heuristic keep/drop rules
  * (alphanumeric ratio, line-length stats, duplication ratio) as Catalyst
  * expressions").
  *
  * Threshold *style* follows the reference's fraction gates
  * (`semantic_detector.py:151` ≥0.7, `pii_detector.py:66-71` >0.5); the
  * specific constants are this engine's documented contract, replicated
  * exactly by the Python golden oracle (tools/make_golden.py). All ratios
  * are double divisions of exact integer counts, so the JVM and CPython
  * compute bit-identical values.
  *
  * Two halves: [[textFeatures]] is a plain Scala one-pass walk over the
  * content string, called row by row inside the scorer `mapPartitions`;
  * [[dropReasonsFromFeatures]] is the rule set as built-in Catalyst
  * expressions over those feature columns (no UDFs). Its comparisons are
  * code-generated; the tag array is assembled by the `filter`/`transform`
  * higher-order functions, which Spark evaluates interpreted.
  */
object Heuristics {
  // ---- thresholds (engine contract; mirrored in tools/make_golden.py) ----
  val MinChars = 20           // drop: trivially small files
  val MaxLineLen = 2000       // drop: minified / generated single-liners
  val MaxAvgLineLen = 200.0   // drop: average line length
  val MinAlnumRatio = 0.25    // drop: binary-ish / low-information blobs
  val DupLineMin = 20         // dup rule applies only at ≥20 non-blank lines
  val MaxDupRatio = 0.7       // drop: >70% duplicated non-blank lines

  /** Per-row text features, extracted in ONE pass over the content string
    * (fused into the langid/KN-LM `mapPartitions`, so each row is walked
    * once for all heuristics). Semantics byte-matched to the golden oracle
    * (tools/make_golden.py `heuristic_reasons`): lines split on `\n`
    * keeping trailing empties; "blank" strips ASCII space ONLY (Spark
    * `trim` semantics, Python `strip(" ")`).
    */
  final case class TextFeatures(
      nChars: Int, alnumChars: Int, maxLineLen: Int, nLines: Int,
      nonBlankLines: Int, distinctNonBlank: Int, spaceOnly: Boolean)

  def textFeatures(content: String): TextFeatures = {
    val n = content.length
    var alnum = 0
    var spaceOnly = true
    var i = 0
    while (i < n) {
      val c = content.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9')) alnum += 1
      if (c != ' ') spaceOnly = false
      i += 1
    }
    val ls = content.split("\n", -1)
    var maxLen = 0
    var nonBlank = 0
    val distinct = new java.util.HashSet[String]()
    var j = 0
    while (j < ls.length) {
      val l = ls(j)
      if (l.length > maxLen) maxLen = l.length
      // blank = ASCII-space-only (Python strip(" "), Spark trim)
      var k = 0
      var isBlank = true
      while (k < l.length && isBlank) {
        if (l.charAt(k) != ' ') isBlank = false
        k += 1
      }
      if (!isBlank) { nonBlank += 1; distinct.add(l) }
      j += 1
    }
    TextFeatures(n, alnum, maxLen, ls.length, nonBlank, distinct.size, spaceOnly)
  }

  /** The keep/drop RULES as Catalyst expressions (north rule) over the
    * pre-extracted feature columns — cheap comparisons in whole-stage
    * codegen; decision logic stays declarative and optimizer-visible.
    */
  def dropReasonsFromFeatures(nChars: Column, alnumChars: Column,
      maxLine: Column, nLines: Column, nonBlank: Column,
      distinctNb: Column, spaceOnly: Column): Column = {
    val dupRatio = when(nonBlank === 0, lit(0.0)).otherwise(
      lit(1.0) - distinctNb.cast("double") / nonBlank.cast("double"))
    reasonsArray(Seq(
      "empty" -> spaceOnly,
      "too_small" -> (nChars < MinChars),
      "long_line" -> (maxLine > MaxLineLen),
      "avg_line_long" -> (nChars.cast("double") / nLines.cast("double") > MaxAvgLineLen),
      "low_alnum" -> (alnumChars.cast("double") /
        greatest(nChars, lit(1)).cast("double") < MinAlnumRatio),
      "dup_lines" -> (nonBlank >= DupLineMin && dupRatio > MaxDupRatio)))
  }

  /** filter(array(structs), _.fired) → names; fixed tag order. */
  private def reasonsArray(rules: Seq[(String, Column)]): Column =
    transform(
      filter(
        array(rules.map { case (name, cond) =>
          struct(lit(name).as("name"), cond.as("fired"))
        }: _*),
        s => s.getField("fired")),
      s => s.getField("name"))
}
