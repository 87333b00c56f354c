package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass native forms of the remaining per-document text sketches.
  *
  * Like [[HashedShingles]], these replace higher-order-function
  * compositions whose non-lambda subtrees are re-evaluated per element in
  * interpreted mode: the composable simhash re-derives the hashed token
  * array once per bit (32x), and the composable fingerprint re-normalizes
  * the document once per k-gram (len x). Outputs are bit-identical to the
  * composable forms (asserted by equivalence tests), so the DuckDB
  * oracles are unchanged.
  */

/** `simhash32(text) -> bigint` — 32-bit SimHash over the document's
  * distinct token set: bit j is set when the sum over token hashes h of
  * `((h>>j)&1)*2-1` is positive (reference semantics:
  * graft.operators.Dedup.simhash32). */
case class Simhash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${Simhash32.name} requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  def compute(s: UTF8String): Long = {
    val norm = HashedShingles.normalize(s.toString)
    val md = MessageDigest.getInstance("MD5")
    val seen = new java.util.HashSet[String]()
    val bitSums = new Array[Long](32)
    val m = HashedShingles.TokPattern.matcher(norm)
    while (m.find()) {
      val t = m.group()
      if (seen.add(t)) {
        val h = HashedShingles.hash60(md, t)
        var j = 0
        while (j < 32) {
          bitSums(j) += ((h >> j) & 1L) * 2 - 1
          j += 1
        }
      }
    }
    var out = 0L
    var j = 0
    while (j < 32) {
      if (bitSums(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val self = ctx.addReferenceObj("simhasher", this, classOf[Simhash32].getName)
      s"${ev.value} = $self.compute($str);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Simhash32 {
  val name = "simhash32"

  def apply(text: Column): Column =
    ColumnBridge.column(Simhash32(ColumnBridge.expression(text)))
}

/** `fingerprint64(text, k) -> bigint` — minimum 60-bit md5 hash over all
  * k-char grams of the normalized text (reference semantics:
  * graft.functions.Text.fingerprint64). Documents shorter than k chars
  * contribute their whole normalized text as the single gram. */
case class Fingerprint64(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if k > 0 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${Fingerprint64.name} requires (string, k > 0), got ($other, $k)")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  def compute(s: UTF8String): Long = {
    val norm = HashedShingles.normalize(s.toString)
    val md = MessageDigest.getInstance("MD5")
    val nGrams = math.max(norm.length - (k - 1), 1)
    var minHash = Long.MaxValue
    var i = 0
    while (i < nGrams) {
      val gram = norm.substring(i, math.min(i + k, norm.length))
      val h = HashedShingles.hash60(md, gram)
      if (h < minHash) minHash = h
      i += 1
    }
    minHash
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val self = ctx.addReferenceObj("fingerprinter", this, classOf[Fingerprint64].getName)
      s"${ev.value} = $self.compute($str);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Fingerprint64 {
  val name = "fingerprint64"

  def apply(text: Column, k: Int): Column =
    ColumnBridge.column(Fingerprint64(ColumnBridge.expression(text), k))
}

/** `hashed_linear_score(text) -> bigint` — the fastText-style hashed
  * linear quality model (reference semantics:
  * graft.functions.Text.hashedLinearScore): sum over ALL word tokens of
  * lower(text) of the md5-derived weight `hash60("qw|" ∥ t) % 2001 −
  * 1000`. One md5 per token in one pass — the composable `aggregate`
  * HOF runs interpreted (one md5 expression-tree eval per token,
  * measured 15.8× at the round-6 10× rehearsal vs ~2× for the native
  * text sketches), while this stays a single compute() call inside
  * whole-stage codegen. */
case class HashedLinearScore(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${HashedLinearScore.name} requires string, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  def compute(s: UTF8String): Long = {
    // tokens(lower(text)) — no whitespace collapse needed, the token
    // regex never matches whitespace
    val lowered = s.toString.toLowerCase(java.util.Locale.ROOT)
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    val m = HashedShingles.TokPattern.matcher(lowered)
    while (m.find()) {
      sum += HashedShingles.hash60(md, "qw|" + m.group()) % 2001 - 1000
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val self = ctx.addReferenceObj("scorer", this, classOf[HashedLinearScore].getName)
      s"${ev.value} = $self.compute($str);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedLinearScore {
  val name = "hashed_linear_score"

  def apply(text: Column): Column =
    ColumnBridge.column(HashedLinearScore(ColumnBridge.expression(text)))
}
