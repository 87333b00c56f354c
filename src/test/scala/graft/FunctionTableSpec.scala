package graft

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FunctionTable

/** Drift guard for [[FunctionTable]], the one declaration of the
  * library's SQL functions: every entry must resolve, with the same
  * results, through both registration routes — [[Graft.registerAll]] and
  * the `spark.sql.extensions` route [[GraftExtensions]] — and reject bad
  * calls at analysis, naming the function. */
class FunctionTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("function-table")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.registerAll(s)
    views(s)
    s
  }

  /** A session on the same context whose only graft setup is the
    * extension; the shared session stays the default for other suites. */
  lazy val extSpark: SparkSession = {
    val base = spark
    val s = SparkSession.builder().withExtensions(new GraftExtensions).create()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    views(s)
    s
  }

  private def views(s: SparkSession): Unit = {
    import s.implicits._
    Seq(
      ("The Café at 10.0.0.1: mail bob@example.com or call 555-123-4567. " +
        "It is the end of the day and the food is good", "www.example.co.uk", 3),
      ("der Hund und die Katze ist nicht zu Hause", "a.b.github.io", 2))
      .toDF("t", "h", "k").createOrReplaceTempView("docs")
    // user 1, day 0: a born+target row and a target-only row
    Seq((1, true, true, 0L), (1, false, true, 0L), (1, true, false, 1L),
      (2, false, true, 2L))
      .toDF("u", "b", "g", "d").createOrReplaceTempView("ev")
  }

  /** One valid call per table entry: its arguments and FROM clause. */
  private val calls: Map[String, (Seq[String], String)] = Map(
    "long_dot" -> (Seq("array(1L, 2L)", "array(3L, 4L)"), "docs"),
    "minhash_sig" -> (Seq("array(5L, 9L)", "4"), "docs"),
    "hashed_shingles" -> (Seq("t", "3"), "docs"),
    "positional_gram_hashes" -> (Seq("t", "2"), "docs"),
    "fingerprint64" -> (Seq("t", "8"), "docs"),
    "registrable_domain" -> (Seq("h"), "docs"),
    "retention_count" -> (Seq("b", "g", "2L", "d"), "ev group by u"),
    "retention_sum" -> (Seq("s"),
      "(select retention_count(b, g, 2L, d) as s from ev group by u)")) ++
    Seq("simhash32", "hashed_linear_score", "nfc_normalize", "strip_accents",
      "token_count", "lang_id", "quality_score", "doc_hash", "pii_scrub",
      "pii_email_count", "pii_ipv4_count", "pii_phone_count")
      .map(_ -> (Seq("t"), "docs"))

  private def query(name: String, args: Seq[String], from: String): String =
    s"select $name(${args.mkString(", ")}) as v from $from"

  test("table names are unique and each has a sample call") {
    val names = FunctionTable.all.map(_.name)
    assert(names.distinct.size === names.size)
    assert(names.toSet === calls.keySet)
  }

  test("every function resolves with equal results via registerAll and via GraftExtensions") {
    def rows(s: SparkSession, name: String): Seq[Row] = {
      val (args, from) = calls(name)
      s.sql(query(name, args, from)).collect().toSeq.sortBy(_.toString)
    }
    FunctionTable.all.foreach { f =>
      val viaRegister = rows(spark, f.name)
      assert(viaRegister.nonEmpty, f.name)
      assert(rows(extSpark, f.name) === viaRegister, f.name)
    }
  }

  test("wrong argument counts and non-literal arguments fail at analysis, naming the function") {
    def rejected(s: SparkSession, name: String, sql: String): Unit = {
      val e = intercept[AnalysisException](s.sql(sql))
      assert(e.getMessage.contains(name), s"$sql: ${e.getMessage}")
    }
    for (s <- Seq(spark, extSpark); f <- FunctionTable.all) {
      val (args, from) = calls(f.name)
      rejected(s, f.name, query(f.name, Nil, from))
      rejected(s, f.name, query(f.name, args :+ args.last, from))
      f.intLiterals.foreach(i => rejected(s, f.name, query(f.name, args.updated(i, "k"), from)))
    }
  }

  test("a repeat registerAll replaces nothing and leaves other functions alone") {
    for (s <- Seq(spark, extSpark)) {
      s.udf.register("user_plus_one", (x: Long) => x + 1)
      val registry = s.sessionState.functionRegistry
      def entries = (FunctionTable.all.map(_.name) :+ "user_plus_one").map { n =>
        val id = FunctionIdentifier(n)
        (registry.lookupFunction(id), registry.lookupFunctionBuilder(id))
      }
      val before = entries
      Graft.registerAll(s)
      Graft.registerAll(s)
      // the same ExpressionInfo objects: no name was registered again
      entries.zip(before).foreach { case ((i, b), (i0, b0)) =>
        assert(i.get eq i0.get)
        assert(b.get eq b0.get)
      }
      FunctionTable.all.foreach(f =>
        assert(registry.lookupFunctionBuilder(FunctionIdentifier(f.name)).get eq f.builder, f.name))
      assert(s.sql("select user_plus_one(1L) as v").head().getLong(0) === 2L)
    }
  }
}
