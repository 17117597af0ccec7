package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The P1–P3 decode chain: the only Spark code the reference actually wrote
  * (`/root/reference/spark-streaming.py:72-74`): binary Kafka value →
  * `CAST(value AS STRING)` → `from_json(value, schema)` → `select("data.*")`.
  *
  * All three stages are `Project`s. `CollapseProject` does not inline the
  * `from_json` into a projection that reads two or more of its fields, so
  * the optimized plan keeps two: `Project [data.f, data.g, ...] ←
  * Project [from_json(schema) AS data]`. Both run in their input's tasks
  * with no extra pass, unlike the reference's per-record Python loop
  * (`voting.py:79-134`); the `from_json` one is
  * interpreted (`CodegenFallback`), outside whole-stage codegen.
  * [[graft.functions.JsonFieldPruning]] narrows that `from_json` to the
  * fields the plan reads, so a vote tally parses `candidate_id` and
  * `vote`, not the whole record.
  */
object Decode {

  /** P1 + F6: Kafka value bytes → UTF-8 string
    * (`/root/reference/spark-streaming.py:72`; `voting.py:96` decode). */
  def castValueToString(df: DataFrame, valueCol: String = "value"): DataFrame =
    df.withColumn(valueCol, col(valueCol).cast("string"))

  /** P2: JSON decode against a declared schema
    * (`/root/reference/spark-streaming.py:73`, schema `:35-62`). */
  def jsonDecode(df: DataFrame, schema: StructType,
                 valueCol: String = "value"): DataFrame =
    df.select(from_json(col(valueCol), schema).alias("data"))

  /** P2 (DDL-string form) — schema as a DDL string, e.g.
    * `"event_id BIGINT, event_type STRING, value DOUBLE"`. */
  def jsonDecodeDdl(df: DataFrame, ddl: String,
                    valueCol: String = "value"): DataFrame =
    df.select(from_json(col(valueCol), StructType.fromDDL(ddl)).alias("data"))

  /** P3: star-expansion / struct flatten
    * (`/root/reference/spark-streaming.py:74`). */
  def flatten(df: DataFrame): DataFrame = df.select("data.*")

  /** P7: drop rows whose JSON failed to parse (reference skips error
    * messages at `/root/reference/voting.py:86-93`, HTTP error rows
    * `main.py:72,93`). In Spark 4 PERMISSIVE mode `from_json` yields an
    * all-null struct (not a null struct) for malformed input, so the filter
    * keys on a field every valid record carries. */
  def dropMalformed(df: DataFrame, dataCol: String = "data",
                    requiredField: String = "event_id"): DataFrame =
    df.filter(col(s"$dataCol.$requiredField").isNotNull)

  /** Full Kafka-shaped round trip used by the oracle query: serialize rows
    * to JSON, cast to binary (the Kafka wire shape,
    * `/root/reference/main.py:216-217`), then run P1→P2→P3. */
  def kafkaRoundTrip(df: DataFrame, ddl: String, cols: Column*): DataFrame = {
    val wire = df.select(to_json(struct(cols: _*)).cast("binary").as("value"))
    flatten(jsonDecodeDdl(castValueToString(wire), ddl))
  }
}
