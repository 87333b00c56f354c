package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `positional_gram_hashes(text, k) -> array<bigint>` — the POSITIONAL
  * sibling of [[HashedShingles]]: element `i` (0-based) is the 60-bit
  * md5 hash of the word k-gram starting at token position `i + 1`, one
  * element PER POSITION (duplicates kept — position identity is the
  * point), computed in one normalize+tokenize pass per row.
  *
  * This is the per-document leg of exact duplicate-substring dedup
  * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  * Better", the ExactSubstr primitive): downstream,
  * [[graft.operators.Dedup.duplicateSubstringSpans]] explodes the array
  * with its position, counts corpus-wide gram frequency, and maps
  * duplicated grams back to merged (doc, token-span) intervals. The
  * same one-pass rationale as [[HashedShingles]] applies: composing
  * `transform(sequence(...), i -> hash60(array_join(slice(toks, i, k),
  * ' ')))` re-runs the tokenization regex once per position in Spark's
  * interpreted higher-order functions — a 10-80x per-task blowup on
  * this exact shape.
  *
  * Semantics divergence from the shingle-SET form, deliberate:
  * documents with fewer than `k` tokens return an EMPTY array (no
  * k-token substring exists, so nothing can be excised), not the
  * whole-text fallback shingle sets use for containment math.
  *
  * Normalization, tokenization and hashing are byte-identical to
  * [[HashedShingles]] (lowercase → collapse whitespace → trim →
  * `[a-zA-Z0-9']+` tokens → space-joined k-grams →
  * first-60-bits-of-md5), so any SQL engine replays it:
  * `('0x' || substr(md5(gram), 1, 15))::BIGINT` over the same token
  * slices.
  */
case class PositionalGramHashes(child: Expression, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if k > 0 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"${PositionalGramHashes.name} requires (string, k > 0), got " +
        s"(${child.dataType.simpleString}, $k)")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[UTF8String])

  /** Public for codegen (the [[HashedShingles.compute]] pattern). */
  def compute(s: UTF8String): UnsafeArrayData = {
    val norm = HashedShingles.normalize(s.toString)
    val toks = new java.util.ArrayList[String]()
    val m = HashedShingles.TokPattern.matcher(norm)
    while (m.find()) toks.add(m.group())
    val nt = toks.size()
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Long](math.max(nt - k + 1, 0))
    var i = 0
    while (i <= nt - k) {
      val sb = new StringBuilder
      var j = 0
      while (j < k) { if (j > 0) sb.append(' '); sb.append(toks.get(i + j)); j += 1 }
      out(i) = HashedShingles.hash60(md, sb.toString)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val self = ctx.addReferenceObj("grammer", this,
        classOf[PositionalGramHashes].getName)
      s"${ev.value} = $self.compute($str);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PositionalGramHashes {
  val name = "positional_gram_hashes"

  def apply(text: Column, k: Int): Column =
    ColumnBridge.column(PositionalGramHashes(ColumnBridge.expression(text), k))
}
