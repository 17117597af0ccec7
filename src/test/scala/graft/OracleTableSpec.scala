package graft

import org.scalatest.funsuite.AnyFunSuite

/** The oracle table: one oracle per seat, and one oracle per shared
  * contract — a seat that grades the same contract as another is an
  * alias of its oracle in [[SparkEntry.sharedOracles]], never a copy.
  * A piece of SQL that several oracles share is one
  * [[SparkEntry.OracleFragments]] member, spliced where it is used. */
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

  test("every oracle fragment is spliced into at least two base oracles") {
    // each val, and each def's text with its arguments as wildcards
    val frags = SparkEntry.OracleFragments.getClass.getDeclaredMethods.toSeq
      .filter(m => m.getReturnType == classOf[String] &&
        m.getParameterTypes.forall(_ == classOf[String]))
    assert(frags.size >= 30, frags.map(_.getName))
    frags.foreach { m =>
      val holes = Seq.tabulate(m.getParameterCount)(i => s"\u0000$i\u0000")
      val text = m.invoke(SparkEntry.OracleFragments, holes: _*).asInstanceOf[String]
      val shape = text.split("\u0000\\d\u0000", -1)
        .map(java.util.regex.Pattern.quote).mkString(".+?").r
      val users = SparkEntry.oracleSqlBase.count { case (_, sql) =>
        shape.findFirstIn(sql).isDefined }
      assert(users >= 2, s"${m.getName} is spliced into $users base oracle(s)")
    }
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
