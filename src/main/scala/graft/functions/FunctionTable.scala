package graft.functions

import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.operators.{Retention, Web}

/** One SQL function of the library: its name, its argument count, the
  * positions of the arguments that must be integer literals, and the
  * builder of its Catalyst expression. */
final case class SqlFunction(
    name: String, arity: Int, intLiterals: Set[Int],
    build: Seq[Expression] => Expression) {

  /** The registry builder: rejects a wrong argument count, or anything
    * but an integer literal where one is required, with an
    * `AnalysisException` naming the function (the error class a failed
    * `checkInputDataTypes` raises), then builds. One value per entry, so
    * a registry can tell graft's own builder from any other. */
  val builder: Seq[Expression] => Expression = args => {
    def reject(problem: String): Nothing = throw new AnalysisException(
      "DATATYPE_MISMATCH.TYPE_CHECK_FAILURE_WITH_HINT", Map(
        "sqlExpr" -> s"\"$name(${args.map(_.sql).mkString(", ")})\"",
        "msg" -> s"$name $problem", "hint" -> ""))
    if (args.length != arity)
      reject(s"expects $arity argument(s), got ${args.length}")
    intLiterals.foreach { i =>
      val a = args(i)
      val ok = a.foldable &&
        Seq(ByteType, ShortType, IntegerType, LongType).contains(a.dataType) &&
        (a.eval() match {
          case n: Number => n.longValue.isValidInt
          case _ => false // NULL
        })
      if (!ok) reject(s"expects an integer literal as argument ${i + 1}, got ${a.sql}")
    }
    build(args)
  }
}

/** Every SQL function the library provides, declared once. Both
  * registration routes read this table: the session-level
  * [[graft.Graft.registerAll]] and the `spark.sql.extensions` route
  * [[graft.GraftExtensions]]. Each builder yields the SAME native
  * Catalyst tree the Column API builds, so a SQL call plans, optimizes
  * and codegens identically to its DataFrame form. */
object FunctionTable {

  /** The value of an argument [[SqlFunction.builder]] checked to be an
    * integer literal. */
  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  private def native(name: String, arity: Int, intLiterals: Int*)(
      build: Seq[Expression] => Expression): SqlFunction =
    SqlFunction(name, arity, intLiterals.toSet, build)

  /** A function defined by its Column-API composition. */
  private def composed(name: String, arity: Int)(f: Seq[Column] => Column): SqlFunction =
    SqlFunction(name, arity, Set.empty, args =>
      ColumnBridge.expression(f(args.map(ColumnBridge.column))))

  val all: Seq[SqlFunction] = Seq(
    native(LongArrayDot.name, 2)(a => LongArrayDot(a(0), a(1))),
    native(MinhashSig.name, 2, 1)(a => MinhashSig(a(0), int(a(1)))),
    native(HashedShingles.name, 2, 1)(a => HashedShingles(a(0), int(a(1)))),
    native(PositionalGramHashes.name, 2, 1)(a => PositionalGramHashes(a(0), int(a(1)))),
    native(Simhash32.name, 1)(a => Simhash32(a(0))),
    native(Fingerprint64.name, 2, 1)(a => Fingerprint64(a(0), int(a(1)))),
    native(HashedLinearScore.name, 1)(a => HashedLinearScore(a(0))),
    native(NfcNormalize.name, 1)(a => NfcNormalize(a(0))),
    native(StripAccents.name, 1)(a => StripAccents(a(0))),
    composed("token_count", 1)(c => Text.tokenCount(c(0))),
    composed("lang_id", 1)(c => Text.langId(c(0))),
    composed("quality_score", 1)(c => Text.qualityScore(c(0))),
    composed("doc_hash", 1)(c => Text.docHash(c(0))),
    composed("pii_scrub", 1)(c => Pii.scrub(c(0))),
    composed("pii_email_count", 1)(c => Pii.emailCount(c(0))),
    composed("pii_ipv4_count", 1)(c => Pii.ipv4Count(c(0))),
    composed("pii_phone_count", 1)(c => Pii.phoneCount(c(0))),
    composed("registrable_domain", 1)(c => Web.registrableDomain(c(0))),
    udaf("retention_count", 4, Retention.retentionCountUdf),
    udaf("retention_sum", 1, Retention.retentionSumUdf))

  /** A UDAF entry, named so SQL plans and output columns read `name(...)`. */
  private def udaf(name: String, arity: Int, f: UserDefinedFunction): SqlFunction = {
    val named = f.withName(name)
    composed(name, arity)(c => named(c: _*))
  }
}
