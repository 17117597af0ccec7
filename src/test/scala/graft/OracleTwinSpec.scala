package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.streaming.StreamOps

/** Seats that share one oracle return the same rows: within each group
  * of [[SparkEntry.sharedOracles]], every twin equals its base seat at
  * sf0.001, compared the way `tools/compare.py` compares a seat to its
  * oracle (columns sorted by name, values as strings, rows compared as
  * multisets — what sorting both sides does). The groups run with
  * static plans (`spark.sql.adaptive.enabled=false`), the config Verify
  * grades. */
class OracleTwinSpec extends SparkSpec {

  /** (sorted column names, rows of string values). */
  private def canon(df: DataFrame): (Seq[String], Seq[Seq[String]]) = {
    val cols = df.columns.toSeq.sorted
    val rows = df.select(cols.map(c => col(s"`$c`")): _*).collect().toSeq
      .map(r => cols.indices.map(i => r.get(i) match {
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case v => String.valueOf(v)
      }))
    (cols, rows)
  }

  test("every twin returns its base seat's rows, with static plans") {
    val t0 = System.nanoTime()
    StreamOps.withConf(spark, Map("spark.sql.adaptive.enabled" -> "false")) {
      SparkEntry.sharedOracles.foreach { case (base, twins) =>
        val want = canon(SparkEntry.queries(base)(spark, sfDir))
        assert(want._2.nonEmpty, s"$base returned no rows")
        twins.foreach { twin =>
          val got = canon(SparkEntry.queries(twin)(spark, sfDir))
          assert(got._1 === want._1, s"$twin vs $base: columns")
          val (extra, missing) = (got._2 diff want._2, want._2 diff got._2)
          val sameRows = extra.isEmpty && missing.isEmpty
          assert(sameRows, s"$twin vs $base: " +
            s"${extra.size} extra rows ${extra.take(3)}, " +
            s"${missing.size} missing ${missing.take(3)}")
        }
      }
    }
    info(f"${SparkEntry.sharedOracles.map(_._2.size + 1).sum} seats in " +
      f"${SparkEntry.sharedOracles.size} groups: ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
