package graft

import org.scalatest.funsuite.AnyFunSuite

/** The declared-query registry: one record per name carrying both the
  * Spark plan function and its DuckDB oracle SQL. Pure checks, no session. */
class QueryRegistrySpec extends AnyFunSuite {

  private def rec(name: String, oracle: => String = "SELECT 1") =
    new SparkEntry.Declared(name, (s, _) => s.emptyDataFrame, oracle)

  test("257 uniquely named queries, each with non-empty oracle SQL") {
    val names = SparkEntry.declared.map(_.name)
    assert(names.size === 257)
    assert(names.distinct.size === 257)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name has empty oracle SQL")
    }
  }

  test("a name declared twice fails registry construction") {
    assert(SparkEntry.registry(Seq(rec("a"), rec("b"))).map(_.name) === Seq("a", "b"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.registry(Seq(rec("a"), rec("b"), rec("a"))))
    assert(e.getMessage.contains("declared more than once: a"))
  }

  test("deriving the Spark side evaluates no oracle") {
    var built = 0
    val d = rec("x", { built += 1; "SELECT 1" })
    assert(SparkEntry.registry(Seq(d)).map(r => r.name -> r.build).toMap.keySet === Set("x"))
    assert(built === 0)
    assert(d.oracleSql === "SELECT 1")
    assert(built === 1)
  }
}
