package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Consistency of the query surface: one [[Query]] registry
  * holds every query with its oracle, and its construction-time checks
  * reject what the name-keyed views would silently merge.
  */
class EntrySpec extends AnyFunSuite {

  private val plan: (SparkSession, String) => DataFrame = (_, _) => null
  private def entry(name: String): Query = Query(name, "SELECT 1")(plan)

  test("every oracleSql key has a queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("every query is oracle-gated (no rows-only queries)") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"rows-only queries crept in: $rowsOnly")
  }

  test("queries and oracleSql are views of one registry") {
    val names = SparkEntry.registry.map(_.name)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    assert(SparkEntry.queries.size == names.size)
    val ids = SparkEntry.registry.map(_.id)
    assert(ids == ids.sorted)
  }

  test("a registry with a duplicate name fails") {
    val e = intercept[IllegalArgumentException](
      Query.registry(entry("q1_a"), entry("q2_b"), entry("q1_a")))
    assert(e.getMessage.contains("q1_a"))
  }

  test("a registry with a duplicate numeric id fails") {
    val e = intercept[IllegalArgumentException](
      Query.registry(entry("q7_a"), entry("q07_b")))
    assert(e.getMessage.contains("numeric ids repeat: 7"))
    assert(Query.registry(entry("q8_a"), entry("q7_b")).map(_.name) ==
      Seq("q7_b", "q8_a"))
  }

  test("a registry with a name not of the form q<digits>_... fails") {
    for (bad <- Seq("x1_a", "q_a", "q12", "q12_", "q1-a", "Q1_a")) {
      val e = intercept[IllegalArgumentException](
        Query.registry(entry("q1_ok"), entry(bad)))
      assert(e.getMessage.contains(bad), bad)
    }
  }

  test("building the registry evaluates no oracle") {
    var evaluated = 0
    val q = Query("q1_a", { evaluated += 1; "SELECT 1" })(plan)
    Query.registry(q)
    assert(evaluated == 0)
    assert(q.oracleSql == "SELECT 1" && q.oracleSql == "SELECT 1")
    assert(evaluated == 1)
  }

  test("every oracle is single-statement and ordered") {
    assert(SparkEntry.registry.size >= 353, SparkEntry.registry.size)
    SparkEntry.registry.foreach { q =>
      val (name, sql) = (q.name, q.oracleSql)
      assert(!sql.trim.endsWith(";"), s"$name ends with ';'")
      assert(!sql.contains(";"), s"$name contains a statement separator")
      assert(sql.toUpperCase.contains("ORDER BY"), s"$name lacks ORDER BY")
    }
  }

  test("Verify fails on a subset name that is not a query, naming it") {
    val e = intercept[IllegalArgumentException](
      Verify.subset(Seq("q01_pricing_summary", "q99999_nope", "q0_typo")))
    assert(e.getMessage.contains("q0_typo,q99999_nope"), e.getMessage)
    assert(!e.getMessage.contains("q01_pricing_summary"))
    assert(Verify.subset(Seq("q01_pricing_summary")) == Set("q01_pricing_summary"))
    assert(Verify.subset(Nil).isEmpty)
  }
}
