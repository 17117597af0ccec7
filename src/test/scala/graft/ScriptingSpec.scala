package graft

import graft.ops.Scripting

/** S6d mechanism pins: the SQL-scripting WHILE loop genuinely iterates
  * (an elimination round happened), ballots are conserved through the
  * transfer, and the scripting conf is restored after the run. */
class ScriptingSpec extends SparkSpec {
  import spark.implicits._

  test("instant-runoff: one elimination round, ballots conserved, " +
       "unique majority winner") {
    val rows = Scripting.instantRunoff(spark, 1000L)
      .as[(String, Long, Long, Boolean, Boolean)].collect().toSeq
    assert(rows.map(_._1).sorted === rows.map(_._1))
    // round 1: 334/333/333 — no majority, so the loop MUST have run
    assert(rows.map(_._2).sorted.toSeq === Seq(333L, 333L, 334L))
    val elim = rows.filter(_._5)
    assert(elim.map(_._1) === Seq("Savior Party"),
      "the (votes ASC, party ASC) tie-break must eliminate Savior Party")
    // every eliminated ballot's second choice is active here, so the
    // transfer conserves all 1000 ballots
    assert(rows.map(_._3).sum === 1000L)
    assert(elim.head._3 === 0L)
    // exactly one strict-majority winner
    val winners = rows.filter(_._4)
    assert(winners.map(w => (w._1, w._3)) === Seq(("Management Party", 501L)))
  }

  test("the scripting conf does not leak out of the run") {
    // getOption reads a registered key's default when it is unset, so it
    // cannot tell "restored to unset" from "left set to the default":
    // compare the explicit settings instead
    val key = "spark.sql.scripting.enabled"
    spark.conf.unset(key)
    val before = spark.conf.getAll.get(key)
    Scripting.instantRunoff(spark, 300L).collect()
    assert(spark.conf.getAll.get(key) === before)
  }
}
