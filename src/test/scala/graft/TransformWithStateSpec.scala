package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Spark 4's `transformWithState` — the `t26` seat. The arbitrary-state
  * processor (ValueState cell per user, RocksDB backend) must reproduce
  * the batch GROUP BY exactly, and the update-mode emission must be
  * strictly monotone per key so the last-emit selection is sound. */
class TransformWithStateSpec extends SparkSpec {

  test("TWS running totals equal the batch group-by") {
    val got = StreamOps
      .transformWithStateTotals(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Tables.events(spark, sfDir)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("cents").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got === want)
  }

  test("the RocksDB provider conf is scoped, not leaked") {
    // drop the shared t26/t39 run the test above built, so a query
    // really starts under the provider override
    StreamOps.twsTotalsMemo.clear()
    StreamOps.transformWithStateTotals(spark, sfDir).count()
    assert(!spark.conf
      .get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDB"),
      "the provider override must not survive the query")
  }

  test("t30 TWS timers close the exact sessions the legacy timeout " +
       "API closes (migration parity)") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val tws = rows(StreamOps.twsTimerSessions(spark, sfDir))
    val legacy = rows(StreamOps.streamingTimeoutSessions(spark, sfDir))
    assert(tws.nonEmpty && tws === legacy)
  }

  test("t30 emits both close paths: in-batch gap closes AND " +
       "watermark-fired timer closes") {
    val gapUs = 1800L * 1000000L
    val closed = StreamOps.twsTimerSessions(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // in-batch closes: sessions followed by another session of the same
    // user (the gap between them exceeded gapUs inside the batch)
    val byUser = closed.groupBy(_._1)
    assert(byUser.exists(_._2.length >= 2),
      "fixture must close at least one session in-batch (gap path)")
    // timer closes: each user's LAST closed session has no successor —
    // it can only have been emitted by the expired-timer callback
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val timerClosed = byUser.values.map(_.maxBy(_._2)).filter { s =>
      Math.floorDiv(s._3 + gapUs, 1000L) < Math.floorDiv(maxUs, 1000L)
    }
    assert(timerClosed.nonEmpty,
      "fixture must close at least one tail session via the timer path")
  }

  test("t32 MapState per-(user, type) totals equal the batch group-by") {
    val got = StreamOps.twsMapStateTotals(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got.nonEmpty && got === want)
  }

  test("t33 ListState buffer CARRIES and trims across micro-batches") {
    import graft.streaming.StreamOps.Ev
    def ev(id: Long, sec: Long) =
      Ev(id, new java.sql.Timestamp(sec * 1000L), 1L, "click", 1.0)
    // five events for one user over THREE batches ([e1 e2][e3 e4][e5]):
    // the batch-2/3 emissions can only be right if the buffer carried
    // batch-1 state and trimmed to the 3 latest
    val data = Seq(ev(1, 10), ev(2, 20), ev(3, 30), ev(4, 40), ev(5, 50))
    val emits = graft.streaming.StreamOps.withConf(spark, Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
      StreamOps.runStream(spark, data, nBatches = 3, outputMode = "update")(
        StreamOps.twsLastKPipeline(3))
    }.collect().map(r => (r.getLong(1), r.getString(2))).toSet
    assert(emits === Set(
      (2L, "2,1"),        // after batch 1
      (4L, "4,3,2"),      // after batch 2: e1 trimmed out
      (5L, "5,4,3")))     // after batch 3: carried buffer, e2 gone
  }

  test("t33 seat: per-user count and the 3 latest event ids equal a " +
       "batch window") {
    val got = StreamOps.twsListStateLastK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val ev = Tables.events(spark, sfDir)
    val latest = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    val want = ev.withColumn("rn", row_number().over(latest))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_seen"),
        sort_array(collect_list(when(col("rn") <= 3,
          struct(col("rn"), col("event_id"))))).as("top"))
      .select(col("user_id"), col("n_seen"),
        concat_ws(",", transform(col("top"),
          t => t.getField("event_id").cast("string"))).as("recent_ids"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got.nonEmpty && got === want)
    // the window is non-vacuous: some user has more than 3 events
    assert(got.exists(_._2 > 3))
  }

  test("t34 state TTL: expired cells re-count from zero across a real " +
       "batch boundary; the no-expiry control stays cumulative") {
    import graft.streaming.StreamOps.Ev
    def ev(id: Long, v: Double) =
      Ev(id, new java.sql.Timestamp(id * 1000L), 7L, "click", v)
    val data = Seq(ev(1, 1.0), ev(2, 2.0), ev(3, 3.0), ev(4, 4.0))
    // no-data micro-batches OFF is load-bearing here, not just perf:
    // TWS under TimeMode.ProcessingTime reschedules a no-data batch
    // whenever processing time advances (that is how PT timers/TTL
    // sweeps fire), so an un-scoped run never goes idle
    val rocks = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    // drive two batches with a wall-clock gap PROVABLY past the ttl
    // (the harness discipline: never race batch speed against expiry)
    def run(ttl: java.time.Duration): Set[(Long, Long, Long)] =
      StreamOps.withConf(spark, rocks) {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import spark.implicits._
        implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
        val ms = MemoryStream[graft.streaming.StreamOps.Ev]
        val name = freshSinkName("t34spec")
        val q = StreamOps.twsTtlPipeline(ttl)(ms.toDF())
          .writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try {
          ms.addData(data.take(2)); q.processAllAvailable()
          // capped: for the short ttl this is 2×ttl (provably past
          // expiry); for the never-expiring control any gap does
          Thread.sleep(math.min(2 * math.max(ttl.toMillis, 1L), 100L))
          ms.addData(data.drop(2)); q.processAllAvailable()
        } finally q.stop()
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      }
    // ttl 20 ms ≪ the enforced 40 ms gap: batch 2 must read batch 1's
    // cell as EXPIRED and restart the fold
    val expired = run(java.time.Duration.ofMillis(20))
    assert(expired === Set((7L, 2L, 300L), (7L, 2L, 700L)),
      "batch 2 must re-count from zero after expiry")
    // control: ttl ≫ run length — the same pipeline stays cumulative
    val kept = run(java.time.Duration.ofDays(1))
    assert(kept === Set((7L, 2L, 300L), (7L, 4L, 1000L)),
      "an unexpired cell must keep accumulating")
  }

  test("t34 harness rejects the raced mid-range ttl outright") {
    // between ~500 ms and the run length the capped inter-batch sleep
    // can neither prove expiry nor retention — the output would be
    // nondeterministic, so the harness must refuse, not race
    val e = intercept[IllegalArgumentException] {
      StreamOps.twsTtlTotals(spark, sfDir,
        ttl = java.time.Duration.ofSeconds(5))
    }
    assert(e.getMessage.contains("mid-range"))
    // both well-defined ends still construct (the 50 ms default is
    // exercised by the graded seat; the huge control by the spec above)
  }

  test("t37 initial state: the warm-start handoff reassembles the " +
       "full-table totals, both serving paths non-vacuous") {
    val got = StreamOps.twsInitialStateTotals(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Tables.events(spark, sfDir)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("cents").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got === want,
      "warm seed + streamed tail must equal the full-table GROUP BY")
    // both serving paths non-vacuous: departed users (%3 == 0, warm
    // store only) and active users with streamed odd-half events
    // (seeded fold)
    val ev = Tables.events(spark, sfDir)
    import ev.sparkSession.implicits._
    val departed = ev.filter(pmod(col("user_id"), lit(3)) === 0)
      .select("user_id").as[Long].collect().toSet
    val streamed = ev.filter(pmod(col("user_id"), lit(3)) =!= 0 &&
        pmod(col("event_id"), lit(2)) === 1)
      .select("user_id").as[Long].collect().toSet
    assert(departed.nonEmpty, "warm-only (departed-user) path vacuous")
    assert(streamed.nonEmpty, "seeded-fold path vacuous")
    // the departed users' totals can only have come from the warm side
    assert(departed.subsetOf(got.map(_._1)),
      "departed users must surface from the warm store")
  }

  test("t39 state source reads the TWS ValueState cell back as exactly " +
       "the batch GROUP BY") {
    val got = StreamOps.twsStateSourceAudit(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Tables.events(spark, sfDir)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("cents").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got === want,
      "the audited state must certify writer AND reader at once")
  }

  test("t31 AvailableNow terminates itself and lands the full tally") {
    val got = StreamOps.availableNowTally(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    val want = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === want)
  }
}
