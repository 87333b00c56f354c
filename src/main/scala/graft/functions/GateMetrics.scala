package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass fused gate metrics — the quality-gate answer to the
  * rehearsal measurement that the GATE SCAN dominates the whole
  * composed curation pipeline (78% of total wall at 1000× docs,
  * SCALE.md): the composable gate evaluates ~8 independent
  * tokenizations of the document (qualityScore's volume / word-length
  * / stopword terms, langId's four stopword-hit sets, the
  * Gopher-rule alpha-word and required-word screens) plus ~8 more
  * whole-text regex passes (alpha ratio, symbol counts, line splits,
  * five script-range counts) — every one a separate `java.util.regex`
  * scan and, for the HOF forms, a materialized token array per term.
  *
  * This expression computes every integer the gate needs in TWO scans
  * (one over the text, one over its lowercase form — lowercasing must
  * precede tokenization to match `tokens(lower(c))`, because case
  * mapping can merge or split ASCII token runs: U+212A KELVIN SIGN
  * lowercases to ASCII `k`, U+0130 to `i`+combining dot) and NO
  * intermediate arrays. The derived doubles (ratios, the quality
  * score, flags) are then plain Column arithmetic over the struct in
  * [[Text.withGateProfile]], with operation order copied from the
  * composable forms so every output is BIT-IDENTICAL (spec-pinned on
  * the corpus and on adversarial case-mapping/astral fixtures).
  *
  * Exact-parity contracts replicated here, each load-bearing:
  *  - `total_chars` counts CODE POINTS (Spark `length`), so astral
  *    characters count once;
  *  - tokens are maximal `[a-zA-Z0-9']+` runs; `token_char_sum` is
  *    their summed code-point lengths;
  *  - `ellipsis_triples` counts LEFT-TO-RIGHT NON-OVERLAPPING `...`
  *    matches (a run of d dots yields ⌊d/3⌋, the `regexp_replace`
  *    count);
  *  - line metrics replay `split('\n', -1)` (trailing empty line
  *    counts), `ltrim`/`rtrim` trimming the SPACE character only
  *    (tabs survive, exactly as Spark's default trim set);
  *  - script counts are the BMP code-point ranges of
  *    [[Text.ScriptRanges]];
  *  - stopword/required-word hits tokenize `UTF8String.toLowerCase`
  *    of the document — the very function Spark's `lower()` calls.
  *
  * Scale shape: scan-stage projection inside whole-stage codegen (the
  * scanner is one static call per row), no shuffle, no UDF
  * serialization — the 100 TB gate form. */
case class GateMetrics(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${GateMetrics.name} requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = GateMetrics.schema

  override def nullSafeEval(v: Any): Any =
    GateMetricsUtil.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str =>
      s"${ev.value} = graft.functions.GateMetricsUtil.compute($str);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GateMetrics {
  val name = "gate_metrics"

  /** Field order is the [[GateMetricsUtil.compute]] output order. */
  val fieldNames: Seq[String] = Seq(
    "total_chars", "n_tokens", "token_char_sum", "alpha_chars",
    "n_alpha_tokens", "hash_chars", "ellipsis_triples",
    "n_lines", "n_bullet_lines", "n_ellipsis_lines",
    "n_cyrillic", "n_greek", "n_han", "n_arabic",
    "stop_en", "stop_de", "stop_fr", "stop_es", "required_distinct")

  val schema: StructType =
    StructType(fieldNames.map(n => StructField(n, LongType, nullable = false)))
}

/** The scanner behind [[GateMetrics]] — static so codegen emits one
  * direct call per row. */
object GateMetricsUtil {

  private def toSet(words: Seq[String]): java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](words.size * 2)
    words.foreach(s.add)
    s
  }
  private val StopEn = toSet(Text.stopwordSet("en"))
  private val StopDe = toSet(Text.stopwordSet("de"))
  private val StopFr = toSet(Text.stopwordSet("fr"))
  private val StopEs = toSet(Text.stopwordSet("es"))
  private val Required: Array[String] = QualityRules.RequiredWords.toArray
  // tokens longer than every lookup word can never match — skip the
  // String allocation for them entirely
  private val MaxLookupLen =
    (Seq("en", "de", "fr", "es").flatMap(Text.stopwordSet) ++
      QualityRules.RequiredWords).map(_.length).max

  private def isTokenCp(cp: Int): Boolean =
    (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
      (cp >= '0' && cp <= '9') || cp == '\''

  private def isAlphaCp(cp: Int): Boolean =
    (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')

  def compute(s: UTF8String): InternalRow = {
    val str = s.toString
    val n = str.length

    var totalChars = 0L
    var nTokens = 0L; var tokenCharSum = 0L; var nAlphaTokens = 0L
    var alphaChars = 0L; var hashChars = 0L; var ellipsisTriples = 0L
    var nLines = 0L; var nBulletLines = 0L; var nEllipsisLines = 0L
    var cyr = 0L; var grk = 0L; var han = 0L; var ara = 0L

    // token state
    var inTok = false; var tokLen = 0L; var tokHasAlpha = false
    // dot-run state (non-overlapping `...` matches = floor(run/3))
    var dotRun = 0L
    // line state: first non-space cp, the cp immediately after it,
    // and the rolling last-3 cps snapshotted at the last non-space cp
    var lineFirst = -1; var lineSecond = -1; var captureSecond = false
    var last1 = -1; var last2 = -1; var last3 = -1
    var tail1 = -1; var tail2 = -1; var tail3 = -1
    var lineSawNonSpace = false

    def closeToken(): Unit = if (inTok) {
      nTokens += 1; tokenCharSum += tokLen
      if (tokHasAlpha) nAlphaTokens += 1
      inTok = false; tokLen = 0L; tokHasAlpha = false
    }
    def closeDotRun(): Unit = { ellipsisTriples += dotRun / 3; dotRun = 0L }
    def closeLine(): Unit = {
      nLines += 1
      if ((lineFirst == '-' || lineFirst == '*') && lineSecond == ' ')
        nBulletLines += 1
      if (lineSawNonSpace && tail1 == '.' && tail2 == '.' && tail3 == '.')
        nEllipsisLines += 1
      lineFirst = -1; lineSecond = -1; captureSecond = false
      last1 = -1; last2 = -1; last3 = -1
      tail1 = -1; tail2 = -1; tail3 = -1
      lineSawNonSpace = false
    }

    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      totalChars += 1

      if (isTokenCp(cp)) {
        inTok = true; tokLen += 1
        if (isAlphaCp(cp)) { tokHasAlpha = true; alphaChars += 1 }
      } else closeToken()

      if (cp == '#') hashChars += 1
      if (cp == '.') dotRun += 1 else closeDotRun()

      if (cp >= 0x0400 && cp <= 0x04FF) cyr += 1
      else if (cp >= 0x0370 && cp <= 0x03FF) grk += 1
      else if (cp >= 0x4E00 && cp <= 0x9FFF) han += 1
      else if (cp >= 0x0600 && cp <= 0x06FF) ara += 1

      if (cp == '\n') closeLine()
      else {
        last3 = last2; last2 = last1; last1 = cp
        if (captureSecond) { lineSecond = cp; captureSecond = false }
        if (cp != ' ') {
          if (!lineSawNonSpace) {
            lineSawNonSpace = true; lineFirst = cp; captureSecond = true
          }
          tail1 = last1; tail2 = last2; tail3 = last3
        }
      }

      i += Character.charCount(cp)
    }
    closeToken(); closeDotRun(); closeLine()

    // pass B: stopword / required-word membership over tokens of the
    // LOWERCASED text (Spark's own lower(), then the same token rule)
    var sEn = 0L; var sDe = 0L; var sFr = 0L; var sEs = 0L
    val reqSeen = new Array[Boolean](Required.length)
    val low = s.toLowerCase.toString
    val m = low.length
    val buf = new Array[Char](MaxLookupLen)
    var bufLen = 0; var tooLong = false; var inTok2 = false
    def closeToken2(): Unit = if (inTok2) {
      if (!tooLong && bufLen > 0) {
        val t = new String(buf, 0, bufLen)
        if (StopEn.contains(t)) sEn += 1
        if (StopDe.contains(t)) sDe += 1
        if (StopFr.contains(t)) sFr += 1
        if (StopEs.contains(t)) sEs += 1
        var r = 0
        while (r < Required.length) {
          if (!reqSeen(r) && Required(r) == t) reqSeen(r) = true
          r += 1
        }
      }
      inTok2 = false; bufLen = 0; tooLong = false
    }
    var j = 0
    while (j < m) {
      val cp = low.codePointAt(j)
      if (isTokenCp(cp)) {
        inTok2 = true
        if (bufLen < MaxLookupLen) { buf(bufLen) = cp.toChar; bufLen += 1 }
        else tooLong = true
      } else closeToken2()
      j += Character.charCount(cp)
    }
    closeToken2()
    var reqDistinct = 0L
    var r = 0
    while (r < reqSeen.length) { if (reqSeen(r)) reqDistinct += 1; r += 1 }

    new GenericInternalRow(Array[Any](
      totalChars, nTokens, tokenCharSum, alphaChars,
      nAlphaTokens, hashChars, ellipsisTriples,
      nLines, nBulletLines, nEllipsisLines,
      cyr, grk, han, ara,
      sEn, sDe, sFr, sEs, reqDistinct))
  }
}
