package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `nfc_normalize(text) → string` — Unicode NFC canonical normalization
  * as a native codegen'd Catalyst expression.
  *
  * Why a curation engine needs this: scraped text mixes precomposed
  * (U+00E9 "é") and decomposed ("e" + U+0301) spellings of the same
  * characters — byte-different, render-identical. Every downstream
  * byte-keyed operator (content-hash dedup, shingling, token counting,
  * PII regexes) silently treats them as different text, so corpora are
  * NFC-normalized at ingest (the C4/Dolma convention). Spark ships no
  * unicode-normalization builtin; a Scala UDF would be the usual
  * fallback — this expression keeps the hot path codegen'd and
  * NULL-propagating like any builtin.
  *
  * Engine parity: NFC is a Unicode-standard bijection-stable mapping —
  * `java.text.Normalizer` (ICU-equivalent, ships with the JDK) and
  * DuckDB's `nfc_normalize` implement the same tables, so the oracle is
  * the real other-engine function, not a re-implementation. A fast-path
  * check (`Normalizer.isNormalized`) skips allocation for the
  * overwhelmingly-ASCII common case.
  *
  * Scale shape: a pure scan-stage projection — no shuffle, no state;
  * cost is one linear pass per string. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${NfcNormalize.name} requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val self = ctx.addReferenceObj("nfcNorm", this, classOf[NfcNormalize].getName)
      s"${ev.value} = $self.compute($str);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  val name = "nfc_normalize"

  def apply(c: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))
}

/** `strip_accents(text) → string` — diacritic removal by canonical
  * decomposition: NFD, then every combining mark (Unicode category Mn)
  * dropped. The language-agnostic SEARCH-KEY normalization ("Zürich" /
  * "Zurich", "café" / "cafe" must meet in joins, blocking keys, and
  * user-facing lookups) — distinct from [[NfcNormalize]], which
  * preserves text content and only canonicalizes its encoding.
  * Characters with no canonical decomposition (ø, ß, æ) are preserved —
  * exactly DuckDB's `strip_accents` (utf8proc) semantics, so the oracle
  * is again the other engine's own implementation (parity verified over
  * the decomposing and non-decomposing repertoires). Codegen'd,
  * NULL-propagating, scan-stage; ASCII fast path skips the regex. */
case class StripAccents(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${StripAccents.name} requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (str.forall(_ < 0x80)) s // pure-ASCII fast path: nothing to strip
    else {
      val nfd = java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFD)
      val sb = new java.lang.StringBuilder(nfd.length)
      var i = 0
      while (i < nfd.length) {
        val cp = nfd.codePointAt(i)
        if (Character.getType(cp) != Character.NON_SPACING_MARK)
          sb.appendCodePoint(cp)
        i += Character.charCount(cp)
      }
      UTF8String.fromString(sb.toString)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val self = ctx.addReferenceObj("accentStripper", this, classOf[StripAccents].getName)
      s"${ev.value} = $self.compute($str);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object StripAccents {
  val name = "strip_accents"

  def apply(c: Column): Column =
    ColumnBridge.column(StripAccents(ColumnBridge.expression(c)))
}
