package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S6d: SQL SCRIPTING (Spark 4's procedural SQL — compound `BEGIN…END`
  * blocks, `DECLARE`d session variables, `SET` from scalar subqueries,
  * `WHILE` loops) exercised on the reference's own domain: an
  * INSTANT-RUNOFF election over the seeded voter dimension
  * (`/root/reference/main.py:205` population, parties `main.py:8`; the
  * reference's plurality tally is A1/A5 — IRV is the iterative
  * generalization that NEEDS a loop, which is exactly what the scripting
  * surface adds over declarative SQL).
  *
  * The script is general over k candidates (candidacy = appearing as
  * some ballot's FIRST choice): each round recomputes every ballot's
  * CURRENT choice (first preference not yet eliminated, else second,
  * else exhausted), and while no candidate holds a strict majority of
  * ALL CAST ballots it eliminates the weakest ACTIVE candidate —
  * ranked over the full active set with zero-current-vote candidates
  * coalesced in (a candidate stripped of every current ballot must be
  * eliminable, and first), party name ascending as the deterministic
  * tie-break — by appending to a `;`-joined eliminated list. Scalar
  * state only, so the loop provably terminates (one elimination per
  * iteration). Majority is measured against cast
  * ballots, so fully-exhausted electorates terminate via the NULL lead
  * (max over no rows) falsifying the loop guard.
  *
  * Ballot fixture (deterministic, oracle-replayable): first choice is
  * the generator's party assignment (`voter_id % 3`), second choice is
  * the next-or-next-but-one party (`(voter_id % 3 + 1 + voter_id % 2) %
  * 3` — never equal to the first). At n=1000 round 1 splits 334/333/333
  * (no majority), the name tie-break eliminates 'Savior Party', and its
  * transfers split 167/166 → 501/499: a real elimination round and a
  * 1-vote majority, both of which the DuckDB oracle replays closed-form.
  *
  * Scale shape: the script's per-round work is ONE aggregation over the
  * ballots (count by current choice) — each iteration is a normal
  * distributed job; the loop state (totals, the eliminated list) is
  * driver-side scalars. Rounds are bounded by the candidate count, not
  * the ballot count, so at 100 TB this is k−1 full aggregations, each
  * shuffling only the candidate-cardinality tallies.
  */
object Scripting {

  def instantRunoff(spark: SparkSession, n: Long): DataFrame = {
    val parties = graft.gen.Generator.Parties
    val arr = array(parties.map(lit): _*)
    val view = s"irv_ballots_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    graft.gen.Generator.voters(spark, n)
      .select(col("voter_id"),
        col("party_affiliation").as("first"),
        element_at(arr,
          (pmod(pmod(col("voter_id"), lit(3)) + 1 + pmod(col("voter_id"), lit(2)),
            lit(3)) + 1).cast("int")).as("second"))
      .createOrReplaceTempView(view)
    // every ballot's current choice under the eliminations so far;
    // `split('' ,';') = ['']` so the empty list eliminates nobody
    val cur =
      s"""SELECT CASE WHEN NOT array_contains(split(elims, ';'), first) THEN first
                      WHEN NOT array_contains(split(elims, ';'), second) THEN second
                 END AS party
          FROM $view"""
    val script =
      s"""BEGIN
            DECLARE total BIGINT;
            DECLARE lead BIGINT;
            DECLARE elims STRING DEFAULT '';
            DECLARE weakest STRING;
            SET total = (SELECT count(*) FROM $view);
            SET lead = (SELECT max(c) FROM
                          (SELECT count(*) AS c FROM ($cur) WHERE party IS NOT NULL
                           GROUP BY party));
            WHILE lead * 2 <= total DO
              SET weakest = (SELECT p.party
                             FROM (SELECT DISTINCT first AS party FROM $view) p
                             LEFT JOIN (SELECT party, count(*) AS c FROM ($cur)
                                        WHERE party IS NOT NULL
                                        GROUP BY party) t
                                    ON t.party = p.party
                             WHERE NOT array_contains(split(elims, ';'), p.party)
                             ORDER BY coalesce(t.c, CAST(0 AS BIGINT)) ASC,
                                      p.party ASC
                             LIMIT 1);
              SET elims = CASE WHEN elims = '' THEN weakest
                               ELSE concat(elims, ';', weakest) END;
              SET lead = (SELECT max(c) FROM
                            (SELECT count(*) AS c FROM ($cur) WHERE party IS NOT NULL
                             GROUP BY party));
            END WHILE;
            SELECT p.party,
                   r1.c AS first_round_votes,
                   coalesce(fin.c, CAST(0 AS BIGINT)) AS final_votes,
                   coalesce(fin.c, CAST(0 AS BIGINT)) * 2 > total AS is_winner,
                   array_contains(split(elims, ';'), p.party) AS eliminated
            FROM (SELECT DISTINCT first AS party FROM $view) p
            LEFT JOIN (SELECT first AS party, count(*) AS c FROM $view
                       GROUP BY first) r1 ON r1.party = p.party
            LEFT JOIN (SELECT party, count(*) AS c FROM ($cur)
                       WHERE party IS NOT NULL GROUP BY party) fin
                   ON fin.party = p.party
            ORDER BY p.party;
          END"""
    // conf-scoped exactly while the script PARSES AND RUNS (a script
    // executes eagerly, statement by statement — unlike a lazy query,
    // the returned frame is the last statement's materialized result),
    // so the ballots view can be dropped as soon as sql() returns —
    // without this, every call leaks a uuid-named temp view (and its
    // analyzed plan) for the session life
    try graft.streaming.StreamOps.withConf(spark,
      Map("spark.sql.scripting.enabled" -> "true"))(spark.sql(script))
    finally spark.catalog.dropTempView(view)
  }
}
