package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.model.Schemas
import graft.pipeline.VotePipeline
import graft.streaming.StreamOps

/** [[graft.functions.JsonFieldPruning]]: the vote decode parses only the
  * fields its plan reads, in batch and in every micro-batch, and a pruned
  * parse returns the rows a full parse does. */
class JsonFieldPruningSpec extends SparkSpec {

  private val optimization = "spark.sql.optimizer.enableJsonExpressionOptimization"
  private val partialResults = "spark.sql.json.enablePartialResults"

  private val tallySchema = StructType(Seq("candidate_id", "vote").map(Schemas.VoteSchema(_)))

  private def jsonSchemas(plan: LogicalPlan): Seq[StructType] =
    plan.flatMap(_.expressions.flatMap(_.collect {
      case j: JsonToStructs => j.schema.asInstanceOf[StructType]
    }))

  private def withConfs[T](kvs: (String, String)*)(body: => T): T =
    StreamOps.withConf(spark, kvs.toMap)(body)

  test("plan, batch: the vote tally parses only (candidate_id, vote)") {
    val tally = VotePipeline.decoded(spark, 64).groupBy("candidate_id").agg(sum("vote"))
    val plan = tally.queryExecution.optimizedPlan
    assert(jsonSchemas(plan) === Seq(tallySchema), plan)
    assert(tally.agg(sum("sum(vote)")).head().getLong(0) === 64L)
  }

  test("plan, micro-batch: vote_e2e_reemit's last batch parses only (candidate_id, vote)") {
    VotePipeline.streamingReEmit(spark, 64).collect()
    val plan = StreamOps.lastDrained.asInstanceOf[StreamingQueryWrapper]
      .streamingQuery.lastExecution.optimizedPlan
    assert(jsonSchemas(plan) === Seq(tallySchema), plan)
  }

  /** Malformed and partial documents, one per row, from a non-foldable
    * source so the decode is optimized rather than folded into a local
    * relation. */
  private val documents = Seq(
    """{"voter_id":"v1","address":{"street":"s","city":"c","state":"st","country":"x","postcode":"1"},"registered_age":30,"candidate_id":"c1","voting_time":"2024-06-01T00:00:01.000Z","vote":1}""",
    "not json at all",
    """{"voter_id":"v2","candidate_id":"c2","vote":1,"address":{"street":"s","ci""",
    """{"candidate_id":"c2","vote":1""",
    """{"voter_id":"v3","voting_time":"notatime","candidate_id":"c3","vote":1}""",
    """{"address":"x","candidate_id":"c1","vote":1}""",
    """{"candidate_id":"c1","voting_time":"notatime","vote":1,"address":"x"}""",
    """{"voter_id":"v4","candidate_id":"c2"}""",
    """{"candidate_id":"c3","vote":1,"extra":{"nested":[1,2,{"vote":9}]},"zzz":"q"}""",
    """{"registered_age":{"vote":5},"candidate_id":"c1","vote":1}""",
    """{"candidate_id":"c2","vote":"one"}""",
    """{"voter_name":"bad \q escape","candidate_id":"c3","vote":1}""",
    """[{"candidate_id":"c1","vote":1}]""",
    "",
    null)

  private def source(): DataFrame =
    spark.range(documents.size).select(col("id"),
      element_at(typedLit(documents), col("id").cast("int") + 1).as("value"))

  private def decode(json: Column): DataFrame =
    source().select(col("id"), json.as("data")).select("id", "data.*")

  private def voteDecode(): DataFrame = decode(from_json(col("value"), Schemas.VoteSchema))

  private val readers: Seq[(String, DataFrame => DataFrame)] = Seq(
    "project" -> (_.select("id", "candidate_id", "vote")),
    "aggregate" -> (_.groupBy("candidate_id").agg(sum("vote"), count(lit(1)))),
    // pushed below the decode with its own single-field from_json
    "filter" -> (_.filter(col("candidate_id") =!= "c3").select("id", "vote", "address.state")))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  // Under both partial-results settings a top-level field that fails to
  // convert is nulled alone, so pruning it never changes a kept field.
  test("parity: every malformed or partial document decodes as a full parse does") {
    for (partial <- Seq("true", "false"); (name, read) <- readers) {
      val full = withConfs(optimization -> "false", partialResults -> partial) {
        val df = read(voteDecode())
        assert(jsonSchemas(df.queryExecution.optimizedPlan).forall(_.length == Schemas.VoteSchema.length))
        rows(df)
      }
      val pruned = withConfs(optimization -> "true", partialResults -> partial) {
        val df = read(voteDecode())
        val schemas = jsonSchemas(df.queryExecution.optimizedPlan)
        assert(schemas.nonEmpty && schemas.forall(_.length < Schemas.VoteSchema.length), s"$name: not pruned")
        rows(df)
      }
      assert(pruned === full, s"$name, enablePartialResults=$partial")
    }
  }

  private def unpruned(df: DataFrame): Unit = {
    val schemas = jsonSchemas(df.queryExecution.optimizedPlan)
    assert(schemas.nonEmpty && schemas.forall(_.length >= Schemas.VoteSchema.length),
      df.queryExecution.optimizedPlan)
  }

  test("not rewritten: options, a corrupt-record column, data read whole, the conf off") {
    val tally = (df: DataFrame) => df.groupBy("candidate_id").agg(sum("vote"))
    unpruned(tally(decode(from_json(col("value"), Schemas.VoteSchema, Map("mode" -> "FAILFAST")))))
    unpruned(tally(decode(from_json(col("value"),
      Schemas.VoteSchema.add(spark.conf.get("spark.sql.columnNameOfCorruptRecord"), StringType)))))
    unpruned(source().select(from_json(col("value"), Schemas.VoteSchema).as("data"))
      .select(to_json(col("data")).as("doc"), col("data.vote")))
    withConfs(optimization -> "false")(unpruned(tally(voteDecode())))
  }
}
