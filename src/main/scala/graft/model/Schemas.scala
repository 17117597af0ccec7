package graft.model

import org.apache.spark.sql.types._

/** Declared schemas, mirroring the reference's schema-first style.
  *
  * `VoteSchema` reproduces the nested vote record the reference
  * declares by hand (`/root/reference/spark-streaming.py:35-62`): the
  * denormalized union of the voter record, the candidate record, and
  * `{voting_time, vote}` built by dict merge at
  * `/root/reference/voting.py:100-103`. Everything nullable, as in the
  * reference. 20 top-level fields, 25 counting the five `address`
  * subfields.
  */
object Schemas {

  /** Nested address struct (`/root/reference/spark-streaming.py:49-55`,
    * produced at `/root/reference/main.py:102-108`). */
  val AddressSchema: StructType = StructType(Seq(
    StructField("street", StringType),
    StructField("city", StringType),
    StructField("state", StringType),
    StructField("country", StringType),
    StructField("postcode", StringType)
  ))

  /** Full vote record (`/root/reference/spark-streaming.py:35-62`). */
  val VoteSchema: StructType = StructType(Seq(
    StructField("voter_id", StringType),
    StructField("voter_name", StringType),
    StructField("date_of_birth", StringType),
    StructField("gender", StringType),
    StructField("nationality", StringType),
    StructField("registration_number", StringType),
    StructField("address", AddressSchema),
    StructField("email", StringType),
    StructField("phone_number", StringType),
    StructField("cell_number", StringType),
    StructField("picture", StringType),
    StructField("registered_age", IntegerType),
    StructField("candidate_id", StringType),
    StructField("candidate_name", StringType),
    StructField("party_affiliation", StringType),
    StructField("biography", StringType),
    StructField("campaign_platform", StringType),
    StructField("photo_url", StringType),
    StructField("voting_time", TimestampType),
    StructField("vote", IntegerType)
  ))
}
