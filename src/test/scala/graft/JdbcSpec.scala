package graft

import org.apache.spark.sql.functions._
import graft.sources.JdbcIO

/** Real JDBC round-trips against Spark's bundled embedded Derby — the
  * genuine `spark.read/write.jdbc` code path the reference uses for
  * Postgres, no network required. */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  test("write.jdbc then read.jdbc preserves rows and schema shape") {
    val url = JdbcIO.freshUrl()
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", 2.5), (3L, "gamma", -4.0))
      .toDF("id", "name", "v")
    JdbcIO.writeTable(df, url, "t_roundtrip")
    val back = JdbcIO.readTable(spark, url, "t_roundtrip")
      .as[(Long, String, Double)].collect().toSet
    assert(back === Set((1L, "alpha", 1.5), (2L, "beta", 2.5), (3L, "gamma", -4.0)))
  }

  test("upsert sink is idempotent under micro-batch replay and converges on update") {
    val url = JdbcIO.freshUrl()
    JdbcIO.createTotalsTable(url, "t_totals")
    val batch = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("user_id", "total_value")
    JdbcIO.upsertTotals(batch, url, "t_totals")
    // exactly-once envelope: foreachBatch re-delivers the SAME batch
    // after a failure — the sink must converge, not append
    JdbcIO.upsertTotals(batch, url, "t_totals")
    val afterReplay = JdbcIO.readTable(spark, url, "t_totals")
      .as[(Long, Double)].collect().toSet
    assert(afterReplay === Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // a LATER batch updates in place (complete-mode tally semantics)
    val next = Seq((2L, 25.0), (4L, 40.0)).toDF("user_id", "total_value")
    JdbcIO.upsertTotals(next, url, "t_totals")
    val afterNext = JdbcIO.readTable(spark, url, "t_totals")
      .as[(Long, Double)].collect().toSet
    assert(afterNext === Set((1L, 10.0), (2L, 25.0), (3L, 30.0), (4L, 40.0)))
  }

  test("streaming foreachBatch drives the upsert sink to the batch truth") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val url = JdbcIO.freshUrl()
    JdbcIO.createTotalsTable(url, "t_stream_totals")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    in.addData((1L, 1.0), (2L, 2.0), (1L, 3.0))
    val q = in.toDF().toDF("user_id", "value")
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        JdbcIO.upsertTotals(
          df.groupBy("user_id").agg(sum("value").as("total_value")),
          url, "t_stream_totals")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val stored = JdbcIO.readTable(spark, url, "t_stream_totals")
      .as[(Long, Double)].collect().toSet
    assert(stored === Set((1L, 4.0), (2L, 2.0)))
  }

  test("jdbcUpsertReplay converges to batch per-user cent totals despite " +
       "every epoch being applied twice") {
    val got = graft.streaming.StreamOps
      .jdbcUpsertReplay(spark, sfDir)
      .as[(Long, Long)].collect().toSeq
    val want = Tables.events(spark, sfDir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy("user_id").agg(sum("cents").as("total_cents"))
      .orderBy("user_id")
      .as[(Long, Long)].collect().toSeq
    assert(got === want)
  }

  test("delta sink: txn-log claim makes redelivery a no-op, distinct epochs accumulate") {
    val url = JdbcIO.freshUrl()
    JdbcIO.createDeltaTables(url, "t_cents_d", "t_log")
    val e0 = Seq((1L, 100L), (2L, 200L)).toDF("user_id", "delta_cents")
    val e1 = Seq((1L, 5L), (3L, 7L)).toDF("user_id", "delta_cents")
    JdbcIO.applyDeltasExactlyOnce(e0, url, "t_cents_d", "t_log", batchId = 0L)
    // redeliver epoch 0 — an unguarded increment sink would double-count
    JdbcIO.applyDeltasExactlyOnce(e0, url, "t_cents_d", "t_log", batchId = 0L)
    JdbcIO.applyDeltasExactlyOnce(e1, url, "t_cents_d", "t_log", batchId = 1L)
    JdbcIO.applyDeltasExactlyOnce(e1, url, "t_cents_d", "t_log", batchId = 1L)
    val got = JdbcIO.readTable(spark, url, "t_cents_d")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 105L, 2L -> 200L, 3L -> 7L))
  }

  test("a failed delta apply rolls back its claim so the retry re-applies") {
    // the rollback-before-close discipline end to end: a mid-transaction
    // failure AFTER the epoch claim is inserted must release the claim
    // (and any partial deltas) — otherwise the task retry would hit the
    // claim, skip the epoch, and the deltas would be lost forever
    val url = JdbcIO.freshUrl()
    JdbcIO.createDeltaTables(url, "t_cents_r", "t_log_r")
    val e0 = Seq((1L, 100L)).toDF("user_id", "delta_cents").coalesce(1)
    JdbcIO.applyDeltasExactlyOnce(e0, url, "t_cents_r", "t_log_r", batchId = 0L)
    // epoch 1 against a table that doesn't exist: the claim insert into
    // t_log_r succeeds first, then the UPDATE prepare throws — the
    // whole transaction (claim included) must roll back
    val e1 = Seq((1L, 5L)).toDF("user_id", "delta_cents").coalesce(1)
    intercept[Exception] {
      JdbcIO.applyDeltasExactlyOnce(e1, url, "t_absent", "t_log_r", batchId = 1L)
    }
    val claims = JdbcIO.readTable(spark, url, "t_log_r")
      .select("batch_id").as[Long].collect().toSet
    assert(claims === Set(0L),
      "the failed epoch's claim must be rolled back, not left committed")
    // and the retry of epoch 1 against the real table now applies
    JdbcIO.applyDeltasExactlyOnce(e1, url, "t_cents_r", "t_log_r", batchId = 1L)
    val got = JdbcIO.readTable(spark, url, "t_cents_r")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 105L))
  }

  test("jdbcTxnLogReplay converges to batch per-user cent totals with doubled epochs") {
    val got = graft.streaming.StreamOps
      .jdbcTxnLogReplay(spark, sfDir)
      .as[(Long, Long)].collect().toSeq
    val want = Tables.events(spark, sfDir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy("user_id").agg(sum("cents").as("total_cents"))
      .orderBy("user_id")
      .as[(Long, Long)].collect().toSeq
    assert(got === want)
  }

  test("roundTrip aggregate equals the direct in-memory aggregate") {
    val events = Tables.events(spark, sfDir)
    val viaJdbc = JdbcIO.roundTrip(spark, events)
      .as[(Long, Double)].collect().head
    val direct = events.groupBy("user_id")
      .agg(round(sum("value"), 2).as("total_value"))
      .agg(count(lit(1)).as("n_users"),
           round(sum("total_value"), 2).as("sum_total"))
      .as[(Long, Double)].collect().head
    assert(viaJdbc === direct)
  }
}
