package graft.functions

import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `hashed_shingles(text, n) -> array<bigint>` — normalize, tokenize,
  * build word n-gram shingles and hash them to 60-bit md5 values, all in
  * ONE pass per row.
  *
  * The composable form (`array_distinct(transform(transform(sequence(1,
  * size(toks)-n+1), i -> array_join(slice(toks, i, n), ' ')), s ->
  * hash60(s)))` with `toks = regexp_extract_all(normalized(text), ...)`)
  * hides a quadratic trap: Spark's higher-order functions evaluate their
  * non-lambda subtrees PER ELEMENT in interpreted mode, so the full
  * tokenization regex over the document re-runs once per shingle —
  * observed as a 10-80x per-task blowup on the dedup pipelines' shingle
  * stage (the d4/d2 hot path), dwarfing every other cost at sf0.1 and
  * unacceptable at 100 TB. This expression runs the regexes exactly once
  * per document and emits hashes byte-identical to the composable form
  * (and therefore to the DuckDB oracle's `md5(shingle)` SQL):
  * lowercase (Locale.ROOT) → collapse `\s+` to single spaces → trim
  * spaces → tokens `[a-zA-Z0-9']+` → space-joined n-grams (documents
  * shorter than n tokens contribute their whole token string) →
  * first-60-bits-of-md5 per distinct shingle, first-occurrence order.
  */
case class HashedShingles(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n > 0 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"${HashedShingles.name} requires (string, n > 0), got " +
        s"(${child.dataType.simpleString}, $n)")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[UTF8String])

  /** Public for codegen: the generated code calls this via a reference to
    * the expression instance (same pattern as [[MinhashSig]]'s constant
    * arrays — the per-row loop is one virtual call, not re-generated
    * source). */
  def compute(s: UTF8String): UnsafeArrayData = {
    val norm = HashedShingles.normalize(s.toString)
    // tokens: maximal [a-zA-Z0-9']+ runs
    val toks = new java.util.ArrayList[String]()
    val m = HashedShingles.TokPattern.matcher(norm)
    while (m.find()) toks.add(m.group())
    // shingles: n-grams joined by ' '; short docs -> whole token string
    val md = MessageDigest.getInstance("MD5")
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val nt = toks.size()
    if (nt < n) {
      val sb = new StringBuilder
      var i = 0
      while (i < nt) { if (i > 0) sb.append(' '); sb.append(toks.get(i)); i += 1 }
      seen.add(HashedShingles.hash60(md, sb.toString))
    } else {
      var i = 0
      while (i <= nt - n) {
        val sb = new StringBuilder
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(toks.get(i + j)); j += 1 }
        seen.add(HashedShingles.hash60(md, sb.toString))
        i += 1
      }
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val self = ctx.addReferenceObj("shingler", this, classOf[HashedShingles].getName)
      s"${ev.value} = $self.compute($str);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedShingles {
  val name = "hashed_shingles"

  def apply(text: Column, n: Int): Column =
    ColumnBridge.column(HashedShingles(ColumnBridge.expression(text), n))

  private[functions] val WsPattern = Pattern.compile("\\s+")
  private[functions] val TokPattern = Pattern.compile("[a-zA-Z0-9']+")

  /** `Text.normalized`: lowercase (Locale.ROOT), collapse `\s+` to single
    * spaces, trim spaces (0x20 only, matching Spark's `trim`). */
  private[functions] def normalize(text: String): String = {
    val lowered = text.toLowerCase(java.util.Locale.ROOT)
    val collapsed = WsPattern.matcher(lowered).replaceAll(" ")
    var from = 0
    var to = collapsed.length
    while (from < to && collapsed.charAt(from) == ' ') from += 1
    while (to > from && collapsed.charAt(to - 1) == ' ') to -= 1
    collapsed.substring(from, to)
  }

  /** First 60 bits of md5(utf8(s)) — identical to
    * `conv(substring(md5(cast(s as binary)), 1, 15), 16, 10)`: 15 hex
    * digits = the top 60 bits of the first 8 digest bytes. */
  private[functions] def hash60(md: MessageDigest, s: String): Long = {
    val d = md.digest(s.getBytes("UTF-8"))
    (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
  }
}
