package graft

import graft.streaming.StreamOps

/** Spark 4's state data source — the `t27` seat: the keyed state read
  * back out of a stopped query's checkpoint must be exactly the
  * semantic state (the dedup key set), proving checkpoints are
  * auditable data, not opaque blobs. */
class StateSourceSpec extends SparkSpec {
  import spark.implicits._

  test("statestore readback equals the batch distinct-user set") {
    val fromState = StreamOps
      .stateSourceDedupAudit(spark, sfDir)
      .as[Long].collect().toSet
    val want = Tables.events(spark, sfDir)
      .select("user_id").distinct().as[Long].collect().toSet
    assert(fromState.nonEmpty && fromState === want)
  }

  test("t41 time-travel: the as-of-batch-0 read is prefix-consistent — " +
       "batch 1's users never leak backward, the feed is exactly the delta") {
    import org.apache.spark.sql.functions._
    val got = StreamOps.stateTimeTravelDedup(spark, sfDir)
      .as[(Long, String)].collect().toSet
    val asOf = got.collect { case (u, "asof_batch0") => u }
    val feed = got.collect { case (u, "feed_batch1") => u }
    val ev = Tables.events(spark, sfDir)
    val knownUsers = ev.filter(pmod(col("user_id"), lit(3)) =!= 0)
      .select("user_id").distinct().as[Long].collect().toSet
    val freshUsers = ev.filter(pmod(col("user_id"), lit(3)) === 0)
      .select("user_id").distinct().as[Long].collect().toSet
    assert(asOf === knownUsers,
      "batchId=0 must reconstruct exactly batch 0's state")
    // PREFIX CONSISTENCY: a user first seen in batch 1 must be invisible
    // at batch 0 — the whole point of the time-travel read
    assert(asOf.intersect(freshUsers).isEmpty,
      "batch-1 additions leaked backward into the as-of-batch-0 view")
    assert(feed === freshUsers,
      "the change feed from batch 1 must be exactly the newly-added keys")
    assert(feed.nonEmpty, "delta branch vacuous: widen the fixture")
    assert(asOf.nonEmpty, "prefix branch vacuous: widen the fixture")
  }

  test("state-metadata names the operator and the committed batch range") {
    val (_, ckpt) = StreamOps
      .stateSourceDedupAuditWithCkpt(spark, sfDir)
    val m = spark.read.format("state-metadata").load(ckpt).collect()
    assert(m.length === 1, s"one stateful operator expected: ${m.toSeq}")
    val row = m.head
    assert(row.getAs[String]("operatorName") === "dedupe")
    // the shared t5/t27 run's own width, not the session's 4
    assert(row.getAs[Int]("numPartitions") === 8)
    // two paced files → batches 0 and 1 committed
    assert(row.getAs[Long]("minBatchId") === 0L)
    assert(row.getAs[Long]("maxBatchId") === 1L)
  }
}
