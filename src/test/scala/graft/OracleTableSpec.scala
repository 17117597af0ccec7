package graft

import org.scalatest.funsuite.AnyFunSuite

/** The oracle table: one oracle per seat, and one oracle per shared
  * contract — a seat that grades the same contract as another is an
  * alias of its oracle in [[SparkEntry.sharedOracles]], never a copy. */
class OracleTableSpec extends AnyFunSuite {

  test("every seat has exactly one oracle, and every oracle a seat") {
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
    assert(SparkEntry.oracleSql.size === 309)
  }

  test("no two base oracles are equal after whitespace normalization") {
    def norm(sql: String) = sql.split("\\s+").filter(_.nonEmpty).mkString(" ")
    val copies = SparkEntry.oracleSqlBase.groupBy { case (_, sql) => norm(sql) }
      .values.map(_.keys.toSeq.sorted).filter(_.size > 1)
    assert(copies.isEmpty, s"copied oracles, alias them instead: $copies")
  }

  test("each twin is an alias of a base oracle, named once") {
    val twins = SparkEntry.sharedOracles.flatMap(_._2)
    assert(twins.distinct.size === twins.size)
    SparkEntry.sharedOracles.foreach { case (base, ts) =>
      assert(SparkEntry.oracleSqlBase.contains(base), base)
      ts.foreach { t =>
        assert(!SparkEntry.oracleSqlBase.contains(t), t)
        assert(SparkEntry.oracleSql(t) eq SparkEntry.oracleSqlBase(base), t)
      }
    }
  }
}
