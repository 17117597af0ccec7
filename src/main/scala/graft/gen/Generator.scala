package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Joins, Scalars}

/** S7: deterministic data generator — the engine-side port of the
  * reference's registration pipeline (`/root/reference/main.py:68-116`),
  * which fetches random people from randomuser.me and seeds 3 candidates
  * across 3 parties (`main.py:8,181`). The reference pins `random.seed(21)`
  * (`main.py:12`); we go one step further and derive every field by pure
  * arithmetic on the row index, so fixtures are bit-reproducible across
  * engines (the DuckDB oracle replays the same formulas) and across cluster
  * sizes (`spark.range` is partition-stable).
  *
  * Scale note: `spark.range(n)` generates distributed, in-executor, with no
  * driver materialization and no shuffle — the 100 TB-safe way to synthesize
  * data, vs the reference's 1000 sequential HTTP+INSERT round-trips
  * (`main.py:205-227`).
  */
object Generator {

  val Parties: Seq[String] =
    Seq("Management Party", "Savior Party", "Tech Republic Party")

  /** Knuth multiplicative-hash constant — public domain arithmetic, used to
    * decorrelate index-derived fields. */
  private val Mix = 2654435761L

  /** Voter dimension: id, name, party bucket, age — field shapes per
    * `/root/reference/main.py:95-114` (name concat `main.py:97`, age slot
    * `main.py:113`). */
  def voters(spark: SparkSession, n: Long): DataFrame = {
    val base = spark.range(n).withColumnRenamed("id", "voter_id")
    Joins.assignOneOfN(base, "voter_id", Parties, "party_affiliation")
      .withColumn("voter_name", concat(lit("voter_"), col("voter_id")))
      .withColumn("gender", Scalars.parityPick(col("voter_id"), "female", "male"))
      .withColumn("registered_age",
        (lit(18) + pmod(col("voter_id") * Mix, lit(60))).cast("int"))
  }

  /** Candidate dimension: 3 candidates, one per party
    * (`/root/reference/main.py:179-194`). */
  def candidates(spark: SparkSession): DataFrame = {
    val base = spark.range(3).withColumnRenamed("id", "candidate_id")
    Joins.assignOneOfN(base, "candidate_id", Parties, "party_affiliation")
      .withColumn("candidate_name", concat(lit("candidate_"), col("candidate_id")))
  }

  /** Votes fact: every voter votes exactly once (the reference's UNIQUE
    * constraint semantics, `/root/reference/main.py:55-59`) for a
    * deterministically "random" candidate — the engine form of
    * `random.choice(candidates)` (`voting.py:99`) under seed discipline. */
  def votes(spark: SparkSession, nVoters: Long): DataFrame =
    voters(spark, nVoters)
      .withColumn("candidate_id", pmod(col("voter_id") * 31 + 7, lit(3)))
      .withColumn("vote", lit(1))

  val States: Seq[String] = Seq("CA", "NY", "TX", "WA", "IL")
  val Cities: Seq[String] = Seq("Springfield", "Rivertown", "Lakeside", "Hillview", "Midvale")

  /** Full voter record (13 top-level fields, with the nested address
    * struct) — the wire shape the reference builds at `main.py:95-114`
    * (address nesting `main.py:102-108`, street concat `main.py:103`). */
  def votersFull(spark: SparkSession, n: Long): DataFrame = {
    val base = voters(spark, n)
    base
      .withColumn("date_of_birth",
        concat(lit("19"), lpad(pmod(col("voter_id") * 13, lit(80)), 2, "0"),
               lit("-01-01")))
      .withColumn("nationality", lit("Utopia"))
      .withColumn("registration_number", concat(lit("REG-"), lpad(col("voter_id"), 8, "0")))
      .withColumn("address", struct(
        concat(pmod(col("voter_id") * 7, lit(999)) + 1, lit(" Main St")).as("street"),
        Scalars.pickByMod(col("voter_id"), Cities).as("city"),
        Scalars.pickByMod(col("voter_id"), States).as("state"),
        lit("Utopia").as("country"),
        lpad(pmod(col("voter_id") * 17, lit(99999)), 5, "0").as("postcode")))
      .withColumn("email", concat(col("voter_name"), lit("@example.org")))
      .withColumn("phone_number", concat(lit("555-"), lpad(pmod(col("voter_id"), lit(10000)), 4, "0")))
      .withColumn("cell_number", concat(lit("556-"), lpad(pmod(col("voter_id"), lit(10000)), 4, "0")))
      .withColumn("picture", concat(lit("https://example.org/p/"), col("voter_id")))
  }

  /** Candidate dim with full metadata (reference candidate record shape,
    * `/root/reference/main.py:77-84`). */
  def candidatesFull(spark: SparkSession): DataFrame =
    candidates(spark)
      .withColumn("biography", concat(lit("bio of "), col("candidate_name")))
      .withColumn("campaign_platform", concat(lit("platform of "), col("candidate_name")))
      .withColumn("photo_url", concat(lit("https://example.org/c/"), col("candidate_id")))

  /** Golden end-to-end: generate → enrich (J1) → tally (A1) → winner
    * ordering, the full intended pipeline of the reference
    * (`.../Note_Projet1_...txt:28-37`) as one deterministic query. */
  def goldenTally(spark: SparkSession, nVoters: Long): DataFrame = {
    val v = votes(spark, nVoters)
    val c = candidates(spark)
      .select(col("candidate_id").as("cand_id"), col("candidate_name"))
    v.join(broadcast(c), v("candidate_id") === c("cand_id"))
      .groupBy("candidate_name")
      .agg(sum("vote").as("total_votes"))
  }
}
