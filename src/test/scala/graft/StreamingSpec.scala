package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Ev

/** Structured-Streaming semantics: micro-batch contents, watermark
  * late-data drops, checkpoint replay (T1), batch ≡ stream equivalence
  * (prefix-consistency), trigger pacing (T6). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
    Ev(id, Timestamp.valueOf(t), user, typ, v)

  test("T23 streaming drift monitor equals the batch PSI audit bit-for-bit") {
    val streamed = StreamOps.streamingDriftPsi(spark, sfDir)
      .as[(String, Long, Long, Double)].collect().toSet
    val ev = Tables.events(spark, sfDir).select("event_id", "event_type")
    val base = ev.filter(pmod(col("event_id"), lit(2)) === 0)
    val cur = ev.filter(pmod(col("event_id"), lit(2)) === 1 &&
      !(col("event_type") === "click" && pmod(col("event_id"), lit(5)) < 3))
    val batch = graft.ops.Quality.driftPsi(base, cur, "event_type")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("T3 streaming cumulative tally equals batch aggregation") {
    val result = StreamOps.cumulativeTally(spark, sfDir)
      .as[(String, Double, Long)].collect().toSet
    val batch = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(round(sum("value"), 2).as("total_value"), count(lit(1)).as("n_events"))
      .as[(String, Double, Long)].collect().toSet
    assert(result === batch)
  }

  test("T3 update-mode micro-batches grow monotonically") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Ev]
    val table = freshSinkName("t3_mono")
    val q = ms.toDF().groupBy("event_type").agg(sum("value").as("total"))
      .writeStream.format("memory").queryName(table)
      .outputMode("complete").start()
    try {
      ms.addData(ev(1, "2024-01-01 00:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      val after1 = spark.table(table).as[(String, Double)].collect().toMap
      assert(after1 === Map("click" -> 1.0))
      ms.addData(ev(2, "2024-01-01 00:01:00", 2, "click", 2.0),
                 ev(3, "2024-01-01 00:02:00", 3, "view", 5.0))
      q.processAllAvailable()
      val after2 = spark.table(table).as[(String, Double)].collect().toMap
      assert(after2 === Map("click" -> 3.0, "view" -> 5.0))
    } finally q.stop()
  }

  test("T2/T4 watermark drops late data in append-mode window agg") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Ev]
    val table = freshSinkName("t4_late")
    val q = ms.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(table)
      .outputMode("append").start()
    try {
      // batch 1: two rows in the 00:00 window
      ms.addData(ev(1, "2024-01-01 00:01:00", 1, "click", 1.0),
                 ev(2, "2024-01-01 00:05:00", 2, "click", 1.0))
      q.processAllAvailable()
      // batch 2: advance event time far enough to close the 00:00 window
      ms.addData(ev(3, "2024-01-01 01:00:00", 3, "click", 1.0))
      q.processAllAvailable()
      // batch 3: a LATE row for the closed 00:00 window -> must be dropped
      ms.addData(ev(4, "2024-01-01 00:02:00", 4, "click", 1.0))
      q.processAllAvailable()
      // batch 4: close the 01:00 window so it flushes too
      ms.addData(ev(5, "2024-01-01 02:00:00", 5, "click", 1.0))
      q.processAllAvailable()
      val counts = spark.table(table)
        .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
        .as[(String, Long)].collect().toMap
      assert(counts("00:00") === 2L, "late row must not be re-counted")
      assert(counts("01:00") === 1L)
    } finally q.stop()
  }

  test("T5 streaming dedup emits each key once across micro-batches") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Ev]
    val table = freshSinkName("t5_once")
    val q = ms.toDF().dropDuplicates("user_id").select("user_id")
      .writeStream.format("memory").queryName(table)
      .outputMode("append").start()
    try {
      ms.addData(ev(1, "2024-01-01 00:00:00", 10, "a", 1.0),
                 ev(2, "2024-01-01 00:00:01", 10, "a", 1.0))
      q.processAllAvailable()
      ms.addData(ev(3, "2024-01-01 00:00:02", 10, "a", 1.0),
                 ev(4, "2024-01-01 00:00:03", 20, "a", 1.0))
      q.processAllAvailable()
      val users = spark.table(table).as[Long].collect().sorted
      assert(users.toSeq === Seq(10L, 20L))
    } finally q.stop()
  }

  test("T5 scale path: dropDuplicatesWithinWatermark bounds state and dedups in-window") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Ev]
    val table = freshSinkName("t5_wm")
    val q = ms.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id")
      .select("user_id", "event_id")
      .writeStream.format("memory").queryName(table)
      .outputMode("append").start()
    try {
      // in-window duplicate of user 1 -> dropped
      ms.addData(ev(1, "2024-01-01 00:00:00", 1, "a", 1.0),
                 ev(2, "2024-01-01 00:01:00", 1, "a", 1.0))
      q.processAllAvailable()
      // advance watermark far past the window so user-1 state is GC'd
      ms.addData(ev(3, "2024-01-01 05:00:00", 2, "a", 1.0))
      q.processAllAvailable()
      // user 1 reappears AFTER its state expired -> emitted again (the
      // documented trade-off vs the reference's Postgres-forever UNIQUE)
      ms.addData(ev(4, "2024-01-01 05:01:00", 1, "a", 1.0))
      q.processAllAvailable()
      val out = spark.table(table).as[(Long, Long)].collect().toSet
      assert(out === Set((1L, 1L), (2L, 3L), (1L, 4L)))
    } finally q.stop()
  }

  test("T1 checkpoint replay: restart resumes without double-counting") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_ckpt_").toString
    val out = Files.createTempDirectory("graft_ckpt_out_").toString
    val ms = MemoryStream[Ev]
    def start() = ms.toDF()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    ms.addData(ev(1, "2024-01-01 00:00:00", 1, "a", 1.0),
               ev(2, "2024-01-01 00:00:01", 2, "a", 1.0))
    q1.processAllAvailable(); q1.stop()

    // restart from the same checkpoint; add one more row
    val q2 = start()
    ms.addData(ev(3, "2024-01-01 00:00:02", 3, "a", 1.0))
    q2.processAllAvailable(); q2.stop()

    val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L), "exactly-once file sink across restart")
  }

  test("T1 file-source checkpoint: restart consumes only new files, exactly once") {
    // the production shape: a topic DIRECTORY receiving files over time;
    // offsets (the processed-file log) live in the checkpoint
    val topic = Files.createTempDirectory("graft_t1_topic_").toString
    val ckpt = Files.createTempDirectory("graft_t1_ckpt_").toString
    val out = Files.createTempDirectory("graft_t1_out_").toString
    def append(from: Long, until: Long): Unit =
      spark.range(from, until).toDF("id")
        .coalesce(1).write.mode("append").parquet(topic)
    def start() = spark.readStream.schema("id BIGINT")
      .option("maxFilesPerTrigger", 1).parquet(topic)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    append(0L, 10L)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    append(10L, 20L)
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val ids = spark.read.parquet(out).select("id").as[Long].collect().sorted
    assert(ids.toSeq === (0L until 20L),
      "restart must process exactly the files appended since the checkpoint")
  }

  test("T6 AvailableNow trigger drains all pending data then terminates") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(ev(1, "2024-01-01 00:00:00", 1, "a", 1.0),
               ev(2, "2024-01-01 00:00:01", 2, "b", 2.0))
    val table = freshSinkName("t6_avnow")
    val q = ms.toDF().groupBy("event_type").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(table)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(!q.isActive, "AvailableNow must self-terminate")
    assert(spark.table(table).count() === 2L)
  }

  test("custom state: mapGroupsWithState keeps a running per-user count across batches") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Ev]
    val counts = ms.toDS().groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + evs.size
          state.update(n)
          (user, n)
      }
    val table = freshSinkName("mgws")
    val q = counts.toDF("user_id", "n")
      .writeStream.format("memory").queryName(table)
      .outputMode("update").start()
    try {
      ms.addData(ev(1, "2024-01-01 00:00:00", 1, "a", 1.0),
                 ev(2, "2024-01-01 00:00:01", 1, "a", 1.0))
      q.processAllAvailable()
      ms.addData(ev(3, "2024-01-01 00:00:02", 1, "a", 1.0),
                 ev(4, "2024-01-01 00:00:03", 2, "a", 1.0))
      q.processAllAvailable()
      // update mode appends one row per touched key per batch: the state
      // trajectory is (1->2), then (1->3, 2->1)
      val rows = spark.table(table).as[(Long, Long)].collect().toSeq
      assert(rows.count(_ == (1L, 2L)) === 1)
      assert(rows.count(_ == (1L, 3L)) === 1)
      assert(rows.count(_ == (2L, 1L)) === 1)
    } finally q.stop()
  }

  test("S8 write-then-emit: stored and emitted row sets agree with input") {
    val emitted = StreamOps.writeThenEmit(spark, sfDir)
    val expected = Tables.events(spark, sfDir)
      .select("event_id", "event_type", "value")
    assert(emitted.count() === expected.count())
    assert(emitted.exceptAll(expected).isEmpty)
  }

  test("observe(): per-batch data-quality counters ride the streaming query") {
    // The monitoring seat the reference serves via Streamlit polls
    // (Note_...txt:36): Spark's native answer is observe() — metrics are
    // computed INSIDE the running plan (no second scan, no extra action)
    // and surface per micro-batch through the progress API.
    val table = "graft_obs"
    val q = StreamOps.eventStream(spark, sfDir)
      .observe("wire_quality",
        count(lit(1)).as("rows"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("neg_values"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("null_types"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(table)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val metrics = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("wire_quality")))
    assert(metrics.nonEmpty, "at least one batch must report metrics")
    assert(metrics.map(_.getAs[Long]("rows")).sum ===
      Tables.events(spark, sfDir).count())
    assert(metrics.map(_.getAs[Long]("neg_values")).sum === 0L)
    assert(metrics.map(_.getAs[Long]("null_types")).sum === 0L)
  }

  test("RocksDB state store: the 100 TB state backend gives identical results") {
    // Default HDFS-backed state lives on the executor heap; RocksDB
    // (bundled: rocksdbjni) spills keyed state to native memory + local
    // disk — the backend you actually run when state is corpus-sized.
    // Results must be backend-independent for every stateful shape:
    // dedup (keyed state), windowed agg, and session windows.
    val rocks = Map("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dedupR = StreamOps.withConf(spark, rocks) {
      StreamOps.streamingDedupUsers(spark, sfDir)
        .as[Long].collect().toSet
    }
    val dedupH = StreamOps.streamingDedupUsers(spark, sfDir)
      .as[Long].collect().toSet
    assert(dedupR === dedupH)
    val sessR = StreamOps.withConf(spark, rocks) {
      StreamOps.streamingSessionCounts(spark, sfDir)
        .as[(Long, Long)].collect().toSet
    }
    val sessH = StreamOps.streamingSessionCounts(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    assert(sessR === sessH)
    val winR = StreamOps.withConf(spark, rocks) {
      StreamOps.hourlyWindowCounts(spark, sfDir)
        .as[(String, Long)].collect().toSet
    }
    val winH = StreamOps.hourlyWindowCounts(spark, sfDir)
      .as[(String, Long)].collect().toSet
    assert(winR === winH)
    // the watermark-EVICTED dedup (t49) — eviction timing is state-store
    // work, so backend parity here pins that RocksDB evicts on the same
    // batch boundaries the default provider does
    val evR = StreamOps.withConf(spark, rocks) {
      StreamOps.streamingDedupEvicted(spark, sfDir)
        .as[(String, Long, Long)].collect().toSet
    }
    val evH = StreamOps.streamingDedupEvicted(spark, sfDir)
      .as[(String, Long, Long)].collect().toSet
    assert(evR === evH)
  }

  test("state-partition sizing: same results, session width restored") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    def dedup(width: Int) =
      StreamOps.streamTable(spark, StreamOps.eventStream(spark, sfDir),
          "append", Some(width))(_.dropDuplicates("user_id").select("user_id"))
        .as[Long].collect().toSet
    val narrow = dedup(2)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before,
      "session shuffle width must be restored after the query")
    val wide = dedup(8)
    assert(narrow.nonEmpty && narrow === wide,
      "state partitioning must not change results")
  }

  test("T45 streamed corpus front end equals the batch gates + canonical " +
       "dedup, with duplicates genuinely spanning the two arrivals") {
    // the driver fixtures below sf0.1 carry no exact duplicates, so the
    // cross-batch dedup proof plants its own: every doc re-emitted at
    // doc_id + 1001 (odd offset → opposite parity → the OTHER arrival)
    val dir = Files.createTempDirectory("graft_t45_fixture_")
    val base = Tables.documents(spark, sfDir).limit(200)
    base.unionByName(base.withColumn("doc_id", col("doc_id") + lit(1001L)))
      .write.parquet(dir.resolve("documents.parquet").toString)
    val streamed = StreamOps.streamingCanonicalDedup(spark, dir.toString)
      .as[(Long, Long, Long)].collect().toSet
    val batch = Tables.documents(spark, dir.toString)
      .filter(graft.ext.TextOps.isEnglishPredicate &&
        graft.ext.TextOps.qualityOkPredicate)
      .select(col("doc_id"), md5(col("text")).as("digest"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("digest")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"),
        min("n_tokens").as("n_tokens"))
      .select("doc_id", "n_copies", "n_tokens")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch,
      "streamed gates+dedup must equal the batch canonical dedup")
    assert(batch.nonEmpty && batch.forall(_._2 >= 2),
      "every planted content must count both parity copies — dedup state " +
        "must have crossed the micro-batch boundary")
  }

  test("T9/T44 pacing: real events genuinely span two micro-batches " +
       "(the time-split stage, not a single drain)") {
    StreamOps.streamingSessionCounts(spark, sfDir).count()
    // batches with >1 input row are the REAL halves (each sentinel batch
    // carries exactly 1 row)
    val real = StreamOps.lastDrained.recentProgress.count(_.numInputRows > 1)
    assert(real >= 2,
      s"session harness processed $real " +
        "real-data batches — cross-batch session merging is no longer " +
        "exercised (the r15 advisory's single-drain regression)")
  }

  test("T46 concurrent queries in one session equal their batch " +
       "aggregates on both sides") {
    val got = StreamOps.concurrentSharedSession(spark, sfDir)
      .as[(String, String, Long, Double)].collect().toSet
    val ev = Tables.events(spark, sfDir)
    val byType = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(lit("by_type").as("m"), col("event_type"), col("n"), col("total"))
      .as[(String, String, Long, Double)].collect().toSet
    val byBucket = ev
      .groupBy(pmod(col("user_id"), lit(8)).cast("string").as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(lit("by_bucket").as("m"), col("bucket"), col("n"), col("total"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(got === (byType ++ byBucket),
      "two concurrent stateful queries sharing the session/state pool " +
        "must each produce exactly their isolated-batch result")
    assert(got.exists(_._1 == "by_type") && got.exists(_._1 == "by_bucket"),
      "both concurrent queries' outputs must be present")
  }

  test("T47 corpus front-end recovery: digest state survives the " +
       "kill-and-restart, counting duplicates across the arrival split") {
    // same planted-duplicate fixture as the T45 spec — but here the two
    // parity arrivals are separated by a full query STOP + cold start,
    // so n_copies >= 2 for every planted content proves the checkpoint
    // restore, not just in-flight state
    val dir = Files.createTempDirectory("graft_t47_fixture_")
    val base = Tables.documents(spark, sfDir).limit(200)
    base.unionByName(base.withColumn("doc_id", col("doc_id") + lit(1001L)))
      .write.parquet(dir.resolve("documents.parquet").toString)
    val recovered = StreamOps.corpusFrontEndRecover(spark, dir.toString)
      .as[(Long, Long, Long)].collect().toSet
    val batch = Tables.documents(spark, dir.toString)
      .filter(graft.ext.TextOps.isEnglishPredicate &&
        graft.ext.TextOps.qualityOkPredicate)
      .select(col("doc_id"), md5(col("text")).as("digest"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("digest")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"),
        min("n_tokens").as("n_tokens"))
      .select("doc_id", "n_copies", "n_tokens")
      .as[(Long, Long, Long)].collect().toSet
    assert(recovered === batch,
      "the restarted query must reproduce the batch canonical dedup")
    assert(batch.nonEmpty && batch.forall(_._2 >= 2),
      "every planted content must count copies from BOTH sides of the " +
        "restart — digest state must have been recovered from checkpoint")
  }

  test("T48 two-hop pipeline equals batch truth, handing off through " +
       "the sink's transaction log across multiple commits") {
    val got = StreamOps.twoHopPipeline(spark, sfDir)
      .as[(String, Long, Long)].collect().toSet
    val want = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("c"))
      .as[(String, Long, Long)].collect().toSet
    assert(got.nonEmpty && got === want,
      "hop B's totals must equal the batch aggregate — any loss or " +
        "replay across the storage handoff breaks this")
    // the handoff contract: hop A's sink carries a _spark_metadata
    // transaction log with BOTH paced commits, and hop B's file source
    // consumed through it (an orphan from an interrupted batch would
    // be invisible to B)
    val log = new java.io.File(StreamOps.lastTwoHopMidDir, "_spark_metadata")
    assert(log.isDirectory, "hop A must write through the file-sink log")
    val commits = Option(log.listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 2,
      s"expected >=2 sink commits across the paced arrivals, saw $commits")
  }

  test("T9/T44 degenerate fixture: an EMPTY events table yields an empty " +
       "session frame, not a crash (the moveStagedPart contract)") {
    val dir = Files.createTempDirectory("graft_empty_fixture_")
    Tables.events(spark, sfDir).limit(0)
      .write.parquet(dir.resolve("events.parquet").toString)
    val t9 = StreamOps.streamingSessionCounts(spark, dir.toString)
    assert(t9.count() === 0L)
    val t44 = StreamOps.streamingDynamicGapSessions(spark, dir.toString)
    assert(t44.count() === 0L)
  }

  test("T9 output-mode contrast: append flush equals the complete-mode " +
       "snapshot (the unmetered Σ|state|-per-batch form)") {
    val append = StreamOps.streamingSessionCounts(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    val complete = StreamOps.streamingSessionCountsComplete(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    assert(append === complete,
      "append-mode sentinel flush must emit exactly the final session set")
    assert(append.nonEmpty)
  }

  test("T10 stream-stream interval join has exact batch parity") {
    val streamed = StreamOps.streamStreamIntervalJoin(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    val ev = Tables.events(spark, sfDir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("cu"), col("ts").as("cts"))
    val batch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      .join(c, col("user_id") === col("cu") &&
        col("cts") <= col("ts") &&
        col("ts") <= col("cts") + expr("INTERVAL 3600 SECONDS"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("ts")) - unix_micros(col("cts"))).as("gap_us"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch, "append-mode join must emit each pair once")
    assert(streamed.nonEmpty)
  }

  test("T20 left-outer join: matched parity + watermark-gated null emission") {
    val streamed = StreamOps.streamStreamLeftOuterJoin(spark, sfDir)
      .as[(Long, Option[Long], Long, Option[Long])].collect().toSet
    val ev = Tables.events(spark, sfDir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("cu"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val matched = p
      .join(c, col("user_id") === col("cu") &&
        col("cts") <= col("ts") &&
        col("ts") <= col("cts") + expr("INTERVAL 3600 SECONDS"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("ts")) - unix_micros(col("cts"))).as("gap_us"))
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, Some(t._2): Option[Long], t._3, Some(t._4): Option[Long]))
      .toSet
    // the exec's eviction: global watermark = min over sides of
    // floor(max_us/1000) ms minus delay; strict < in ms
    val maxC = c.agg(max(unix_micros(col("cts")))).head.getLong(0) / 1000
    val maxP = p.agg(max(unix_micros(col("ts")))).head.getLong(0) / 1000
    val wMs = math.min(maxC, maxP) - 3600000L
    val matchedIds = matched.map(_._1)
    val nullRows = p
      .filter(unix_micros(col("ts")) / 1000 < wMs)
      .select("purchase_id", "user_id")
      .as[(Long, Long)].collect()
      .filter { case (pid, _) => !matchedIds.contains(pid) }
      .map { case (pid, uid) =>
        (pid, None: Option[Long], uid, None: Option[Long]) }
      .toSet
    assert(streamed === matched ++ nullRows,
      "left-outer stream must emit matches plus exactly the evicted unmatched")
    assert(matched.nonEmpty, "matched branch vacuous at this SF")
    assert(nullRows.nonEmpty, "null-emission branch vacuous at this SF")
    // rows inside the final watermark delay stay in state — the live
    // tail the operator intentionally withholds
    val allUnmatched = p.select("purchase_id").as[Long].collect()
      .count(pid => !matchedIds.contains(pid))
    assert(allUnmatched > nullRows.size,
      "retained-in-state branch vacuous: widen the fixture")
  }

  test("T36 full-outer join: matched parity + null emission in BOTH " +
       "eviction directions") {
    val streamed = StreamOps.streamStreamFullOuterJoin(spark, sfDir)
      .as[(Option[Long], Option[Long], Long, Option[Long])].collect().toSet
    val ev = Tables.events(spark, sfDir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("cu"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val matched = p
      .join(c, col("user_id") === col("cu") &&
        col("cts") <= col("ts") &&
        col("ts") <= col("cts") + expr("INTERVAL 3600 SECONDS"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("ts")) - unix_micros(col("cts"))).as("gap_us"))
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (Some(t._1): Option[Long], Some(t._2): Option[Long],
        t._3, Some(t._4): Option[Long]))
      .toSet
    val maxC = c.agg(max(unix_micros(col("cts")))).head.getLong(0) / 1000
    val maxP = p.agg(max(unix_micros(col("ts")))).head.getLong(0) / 1000
    val wMs = math.min(maxC, maxP) - 3600000L
    val matchedP = matched.flatMap(_._1)
    val matchedC = matched.flatMap(_._2)
    // purchase eviction (the t20 direction): watermark passes purchase_ts
    val nullClick = p
      .filter(unix_micros(col("ts")) / 1000 < wMs)
      .select("purchase_id", "user_id")
      .as[(Long, Long)].collect()
      .filter { case (pid, _) => !matchedP.contains(pid) }
      .map { case (pid, uid) =>
        (Some(pid): Option[Long], None: Option[Long], uid,
          None: Option[Long]) }
      .toSet
    // click eviction: watermark passes click_ts + tolerance — no future
    // purchase can still land inside [click_ts, click_ts + tol]
    val nullPurchase = c
      .filter(unix_micros(col("cts")) / 1000 + 3600000L < wMs)
      .select("click_id", "cu")
      .as[(Long, Long)].collect()
      .filter { case (cid, _) => !matchedC.contains(cid) }
      .map { case (cid, uid) =>
        (None: Option[Long], Some(cid): Option[Long], uid,
          None: Option[Long]) }
      .toSet
    assert(streamed === matched ++ nullClick ++ nullPurchase,
      "full-outer stream must emit matches plus exactly the evicted " +
        "unmatched rows of BOTH sides")
    assert(matched.nonEmpty, "matched branch vacuous at this SF")
    assert(nullClick.nonEmpty, "purchase-eviction branch vacuous")
    assert(nullPurchase.nonEmpty, "click-eviction branch vacuous")
    // both sides withhold rows inside the final horizon
    val unmatchedClicks = c.select("click_id").as[Long].collect()
      .count(cid => !matchedC.contains(cid))
    assert(unmatchedClicks > nullPurchase.size,
      "click retained-in-state branch vacuous: widen the fixture")
  }

  test("T40 right-outer join: matched parity + null extension ONLY in the " +
       "click-eviction direction") {
    val streamed = StreamOps.streamStreamRightOuterJoin(spark, sfDir)
      .as[(Option[Long], Option[Long], Long, Option[Long])].collect().toSet
    val ev = Tables.events(spark, sfDir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("cu"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val matched = p
      .join(c, col("user_id") === col("cu") &&
        col("cts") <= col("ts") &&
        col("ts") <= col("cts") + expr("INTERVAL 3600 SECONDS"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("ts")) - unix_micros(col("cts"))).as("gap_us"))
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (Some(t._1): Option[Long], Some(t._2): Option[Long],
        t._3, Some(t._4): Option[Long]))
      .toSet
    val maxC = c.agg(max(unix_micros(col("cts")))).head.getLong(0) / 1000
    val maxP = p.agg(max(unix_micros(col("ts")))).head.getLong(0) / 1000
    val wMs = math.min(maxC, maxP) - 3600000L
    val matchedC = matched.flatMap(_._2)
    val nullPurchase = c
      .filter(unix_micros(col("cts")) / 1000 + 3600000L < wMs)
      .select("click_id", "cu")
      .as[(Long, Long)].collect()
      .filter { case (cid, _) => !matchedC.contains(cid) }
      .map { case (cid, uid) =>
        (None: Option[Long], Some(cid): Option[Long], uid,
          None: Option[Long]) }
      .toSet
    assert(streamed === matched ++ nullPurchase,
      "right-outer stream must emit matches plus exactly the evicted " +
        "unmatched CLICKS")
    assert(matched.nonEmpty, "matched branch vacuous at this SF")
    assert(nullPurchase.nonEmpty, "click-eviction branch vacuous")
    // DIRECTION: every null-extended row must be click-side — an
    // unmatched purchase never emits in the right-outer flavor
    assert(streamed.forall(r => r._2.nonEmpty),
      "no row may carry a NULL click_id — null extension is click-only")
    val matchedP = matched.flatMap(_._1)
    val unmatchedPurchases = p.select("purchase_id").as[Long].collect()
      .count(pid => !matchedP.contains(pid))
    assert(unmatchedPurchases > 0,
      "unmatched purchases must exist (and must NOT have emitted)")
  }

  test("T15 regression: a session closed in-batch below the watermark " +
       "clears carried state — no stale re-emission from the old timer") {
    // Two-arrival topic (multi-part events.parquet, mtimes staggered):
    // batch 0 opens user 99's session at t0 and jumps the watermark to
    // +10 days via user 7; batch 1 delivers a LATE row for user 99
    // (FMGWS does NOT drop late input) whose merged session closes
    // below the watermark — the close-now path. Pre-fix, the carried
    // (t0) state + timer survived and re-emitted a stale prefix
    // session on the timed-out pass: a duplicate.
    val root = TmpDirs.create("graft_t15_spec_")
    val evDir = root.resolve("events.parquet")
    Files.createDirectories(evDir)
    val t0ms = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(plusSec: Long) = new Timestamp(t0ms + plusSec * 1000L)
    def part(name: String,
             rows: Seq[(Long, Timestamp, Long, String, Double, String)],
             mtime: Long): Unit = {
      val staged = root.resolve(s"${name}_stage")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(staged.toString)
      val p = Option(staged.toFile.listFiles()).get
        .find(_.getName.endsWith(".parquet")).get
      val dst = evDir.resolve(s"$name.parquet")
      Files.move(p.toPath, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val now = System.currentTimeMillis()
    part("f0", Seq((1L, ts(0), 99L, "click", 1.0, "{}"),
                   (2L, ts(864000), 7L, "click", 1.0, "{}")), now - 30000)
    part("f1", Seq((3L, ts(7200), 99L, "click", 1.0, "{}")), now - 20000)
    // batch 2: user 99 RETURNS with a fresh row. Pre-fix, the close-now
    // branch left the (t0) state behind (its timer auto-clears — a
    // timeout not re-armed during a data invocation is removed — so the
    // leak is the STATE, not the timer), and this arrival would merge
    // against it and close the stale (t0,t0,1) prefix AGAIN: a
    // duplicate. Post-fix the return opens a fresh tail session
    part("f2", Seq((4L, ts(864002), 99L, "click", 1.0, "{}")), now - 10000)
    val out = StreamOps.streamingTimeoutSessions(spark, root.toString)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.distinct.size === out.size,
      s"duplicate emission — stale state survived the in-batch close: $out")
    val u99 = out.filter(_._1 == 99L).toSet
    val usec = (s: Long) => (t0ms + s * 1000L) * 1000L
    assert(u99 === Set((99L, usec(0), usec(0), 1L),
                       (99L, usec(7200), usec(7200), 1L)),
      s"user 99 must close exactly its two one-event sessions: $u99")
    assert(!out.exists(_._1 == 7L),
      "user 7's tail session is inside the gap horizon and must stay open")
  }

  test("T44 dynamic-gap sessions: stream/batch parity on the full fixture") {
    val streamed = StreamOps.streamingDynamicGapSessions(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("sessionize_dynamic_gap")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch,
      "streaming dynamic-gap session merge must equal the batch seat")
    assert(streamed.nonEmpty)
  }

  test("T43 observe: per-batch gate counters equal the arrival split, " +
       "one row per data batch") {
    val rows = StreamOps.streamingObservedGate(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(rows.map(_._1) === Seq(0L, 1L),
      s"exactly the two staged arrivals must report: $rows")
    val ev = Tables.events(spark, sfDir)
    val want = ev.groupBy(pmod(col("event_id"), lit(2)).as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > 50, 1L).otherwise(0L)).as("h"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(rows === want, "observed counters must equal the batch replay")
    assert(rows.forall(r => r._3 < r._2),
      "gate must actually reject rows (n_heavy < n_rows) — fixture " +
        "degenerate otherwise")
  }

  test("T42 chained stateful aggregations: two-level rollup equals the " +
       "batch replay, emits exactly once, withholds open buckets") {
    val rows = StreamOps.chainedWindowRollup(spark, sfDir)
      .as[(String, Long, Long)].collect().toSeq
    // exactly-once: append mode emits a finalized bucket one time
    assert(rows.map(_._1).distinct.size === rows.size,
      "a 4h bucket emitted more than once")
    val ev = Tables.events(spark, sfDir)
    val maxTs = ev.agg(max("ts")).head.getTimestamp(0)
    val hours = ev.groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    val allBuckets = hours.groupBy(window(col("hr"), "4 hours").as("w"))
      .agg(sum("n").as("n_events"), count(lit(1)).as("n_hours"))
    val want = allBuckets
      .filter(col("w.end") <= lit(maxTs) - expr("INTERVAL 1 HOUR"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm"),
        col("n_events"), col("n_hours"))
      .as[(String, Long, Long)].collect().toSet
    assert(rows.toSet === want,
      "chained rollup must equal the watermark-gated batch replay")
    // the chain is non-vacuous: some bucket aggregates >1 hourly window
    assert(rows.exists(_._3 > 1),
      "every bucket has a single populated hour — fixture too sparse " +
        "to grade the two-level chain")
    // boundary retention: buckets above the watermark stay in state
    assert(allBuckets.count() > rows.size,
      "no bucket was withheld — the watermark gate is vacuous")
  }

  test("T38 semi join: one emit per matched purchase, no click payload, " +
       "exact batch-EXISTS parity") {
    val streamed = StreamOps.streamStreamSemiJoin(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(streamed.map(_._1).distinct.size === streamed.size,
      "a purchase must emit at most once regardless of click fan-out")
    val ev = Tables.events(spark, sfDir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("cu"), col("ts").as("cts"))
    val batch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      .join(c, col("user_id") === col("cu") &&
        col("cts") <= col("ts") &&
        col("ts") <= col("cts") + expr("INTERVAL 3600 SECONDS"), "leftsemi")
      .select(col("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed.toSet === batch)
    assert(streamed.nonEmpty)
    // at-most-once under REAL fan-out: at 1 h no fixture purchase has
    // two in-range clicks, so re-run the engine at 24 h where many do
    // — each fanned-out purchase must still be a single output row
    val wideTol = 86400L
    val wide = StreamOps.streamStreamSemiJoin(spark, sfDir, wideTol)
      .as[(Long, Long, Long)].collect().toSeq
    assert(wide.map(_._1).distinct.size === wide.size,
      "fan-out purchases must emit once")
    val fanned = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      .join(c, col("user_id") === col("cu") &&
        col("cts") <= col("ts") &&
        col("ts") <= col("cts") + expr(s"INTERVAL $wideTol SECONDS"))
      .groupBy("purchase_id").count().filter(col("count") > 1)
      .select("purchase_id").as[Long].collect().toSet
    assert(fanned.nonEmpty, "fan-out branch vacuous even at 24 h")
    assert(fanned.subsetOf(wide.map(_._1).toSet),
      "every fanned-out purchase must appear exactly once")
  }

  test("T35 changelog checkpointing recovers dedup state across restart") {
    val got = StreamOps.changelogRecoverDedup(spark, sfDir)
      .as[Long].collect().sorted
    val want = Tables.events(spark, sfDir)
      .select("user_id").distinct().as[Long].collect().sorted
    // exact multiset equality: a lost store would re-emit the even
    // half's users as DUPLICATES, not change the distinct set
    assert(got.toSeq === want.toSeq)
    assert(!spark.conf.getOption(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      .exists(_ == "true"),
      "the changelog conf must not survive the query")
  }

  test("T21 leaderboard: snapshot ranking has exact batch parity") {
    val rows = StreamOps.streamingLeaderboard(spark, sfDir)
      .as[(Int, String, Long, Long, Long)].collect().toSeq
    val batch = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("event_type"))
      .as[(String, Long)].collect().toSeq
    assert(rows.map(r => (r._2, r._3)) == batch,
      "stream tally + snapshot rank must equal the batch leaderboard")
    assert(rows.map(_._1) == (1 to batch.size), "ranks must be dense 1..n")
    assert(rows.head._5 == 0L, "the leader is behind nobody")
    val total = batch.map(_._2).sum
    rows.foreach { r =>
      assert(r._4 == r._3 * 10000L / total, s"share mismatch for ${r._2}")
      assert(r._5 == batch.head._2 - r._3)
    }
  }

  test("T22 streaming merge: latest-wins holds across batches and arrival orders") {
    import java.sql.Timestamp
    // key 11: updated in batch 1, then batch 2 — last batch wins;
    // key 22: LATER event-time arrives in the EARLIER batch — event
    // time, not arrival order, must win; key 33: upsert then delete
    val evs = Seq(
      StreamOps.Ev(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 10.0),
      StreamOps.Ev(4L, Timestamp.valueOf("2024-01-01 12:00:00"), 2L, "click", 99.0),
      StreamOps.Ev(5L, Timestamp.valueOf("2024-01-01 09:00:00"), 3L, "click", 30.0),
      // batch 2
      StreamOps.Ev(2L, Timestamp.valueOf("2024-01-01 11:00:00"), 1L, "click", 11.0),
      StreamOps.Ev(3L, Timestamp.valueOf("2024-01-01 11:30:00"), 2L, "click", 20.0),
      StreamOps.Ev(6L, Timestamp.valueOf("2024-01-01 10:00:00"), 3L, "error", 0.0))
    val latest = StreamOps.runStream(spark, evs, nBatches = 2, "complete")(
      StreamOps.mergeDeleteCompaction)
    val base = Seq((11L, 1.0), (44L, 4.0)).toDF("c_custkey", "c_acctbal")
    val out = StreamOps.mergeDeleteApply(latest, base)
      .as[(Long, String, Option[Double])].collect().toSet
    val want = Set(
      (11L, "update", Some(11.0)),      // batch-2 value wins
      (22L, "insert", Some(99.0)),      // earlier-arrival later-event-time wins
      (33L, "noop_delete", None: Option[Double]), // delete of unknown key
      (44L, "keep", Some(4.0)))
    assert(out == want)
  }

  test("T17 dead-letter split conserves the input and quarantines exactly the poison") {
    val out = StreamOps.deadLetterSplit(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
    val totals = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val poison = ev.filter(col("k").isNull || pmod(col("k"), lit(97)) === 13)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getAs[Long]("n_valid") + r.getAs[Long]("n_dead") === totals(t),
        s"conservation broken for $t")
      assert(r.getAs[Long]("n_dead") === poison.getOrElse(t, 0L),
        s"quarantine mismatch for $t")
    }
    assert(rows.map(_.getAs[Long]("n_dead")).sum > 0, "no poison at this SF")
  }

  test("T18 incremental sketch chain equals the one-shot global sketch exactly") {
    val out = StreamOps.streamingSketchMaintenance(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Boolean]("stream_merged_within_5pct"),
      s"sketch chain drifted for ${r.getString(0)}"))
    // at test cardinality the sparse-mode sketches are exact, so the
    // incremental union must agree with countDistinct exactly
    val exact = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach(r =>
      assert(r.getAs[Long]("n_users_exact") === exact(r.getString(0))))
  }

  test("T16 sliding windows: every event lands in exactly two 2h/1h windows") {
    val out = StreamOps.slidingWindowCounts(spark, sfDir)
    val totalAcrossWindows = out.agg(sum("n_events")).head().getLong(0)
    val nEvents = Tables.events(spark, sfDir).count()
    assert(totalAcrossWindows === 2 * nEvents)
    // and each window's count equals the batch trailing-2h recount
    import spark.implicits._
    val batch = Tables.events(spark, sfDir)
      .select(date_trunc("hour", col("ts")).as("s"))
      .union(Tables.events(spark, sfDir)
        .select((date_trunc("hour", col("ts")) -
          expr("INTERVAL 1 HOUR")).as("s")))
      .groupBy(date_format(col("s"), "yyyy-MM-dd HH:mm").as("win_start"))
      .agg(count(lit(1)).as("n_events"))
      .as[(String, Long)].collect().toMap
    out.as[(String, Long)].collect().foreach { case (w, n) =>
      assert(batch(w) === n, s"window $w")
    }
  }

  test("T19 streaming OHLC snapshot folds to the batch rollup exactly") {
    val stream = StreamOps.streamingOhlcMaintenance(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.ops.EventAnalytics.ohlcRollup(
        Tables.events(spark, sfDir))
      .collect().map(_.toString).sorted.toSeq
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("s10: every emit epoch lands twice on the wire; the keyed dedup converges") {
    import spark.implicits._
    val emitted = StreamOps.wireEmitRun(spark, sfDir)
    val frames = spark.read.parquet(emitted)
      .select(from_json(col("value").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_type STRING, epoch BIGINT, n BIGINT, cents BIGINT")).as("d"))
      .select("d.*")
    // the injected at-least-once failure is real: EVERY (epoch, key)
    // frame is delivered exactly twice, across >= 2 real epochs
    val copies = frames.groupBy("epoch", "event_type")
      .agg(count(lit(1)).as("c")).select("c").as[Long].collect()
    assert(copies.nonEmpty && copies.forall(_ === 2L),
      "every emitted frame must appear exactly twice")
    assert(frames.select("epoch").distinct().count() >= 2,
      "replay must span multiple epochs")
    // a dedup-less consumer double-counts every total ...
    val naive = frames.groupBy("event_type")
      .agg(sum("n").as("n_events")).as[(String, Long)].collect().toMap
    val truth = Tables.events(spark, sfDir).groupBy("event_type")
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    assert(naive === truth.map { case (k, v) => k -> v * 2 })
    // ... while the (epoch, key) dedup reproduces the batch truth
    val deduped = StreamOps.consumeWireEmits(spark, emitted)
      .select("event_type", "n_events").as[(String, Long)].collect().toMap
    assert(deduped === truth)
  }

  test("T49 watermark-evicted dedup: digests re-emit after eviction and " +
       "stay suppressed inside the horizon") {
    import spark.implicits._
    val got = StreamOps.streamingDedupEvicted(spark, sfDir)
      .as[(String, Long, Long)].collect()
    val want = Tables.documents(spark, sfDir)
      .filter(graft.ext.TextOps.isEnglishPredicate &&
        graft.ext.TextOps.qualityOkPredicate)
      .groupBy(md5(col("text")).as("digest"),
        (length(col("text")) % 2).as("par"))
      .agg(min(size(split(col("text"), " "))).cast("long").as("n_tokens"))
      .select(col("digest"),
        when(col("par") === 0, lit(2L)).otherwise(lit(1L)).as("n_emits"),
        col("n_tokens"))
      .as[(String, Long, Long)].collect()
    assert(got.toSet === want.toSet,
      "n_emits must be exactly 2 for evicted (even-length) digests and " +
        "1 for retained (odd-length) ones — under- or over-eviction " +
        "shifts a count")
    assert(got.exists(_._2 == 2L) && got.exists(_._2 == 1L),
      "the fixture must exercise BOTH sides of the watermark horizon")
  }

  test("T50 streaming mm gate: decode admissions equal the closed-form " +
       "pattern and corrupt payloads are quarantined, not fatal") {
    import spark.implicits._
    val got = StreamOps.streamingMediaGate(spark, sfDir)
      .as[(String, Long, Long, Long)].collect().toSet
    val docs = Tables.documents(spark, sfDir).select("doc_id")
    val want = docs.select(col("doc_id"),
        (col("doc_id") % 13 + 4).as("w"), (col("doc_id") % 11 + 4).as("h"),
        (col("doc_id") % 7 === 0).as("bad"))
      .withColumn("ps", expr(
        """aggregate(flatten(transform(sequence(0, h - 1), y ->
             transform(sequence(0, w - 1), x ->
               (x * 7 + y * 13 + doc_id * 31) % 256))), 0L, (a, b) -> a + b)"""))
      .groupBy(when(col("bad"), lit("quarantined"))
        .otherwise(concat(lit("w"), col("w").cast("string"))).as("k"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bad"), 0L).otherwise(col("w") * col("h")))
          .as("total_px"),
        sum(when(col("bad"), 0L).otherwise(col("ps"))).as("pix_sum"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got === want,
      "admitted geometry groups must carry exact decoded pixel sums and " +
        "the quarantine row must hold every corrupted payload")
    assert(got.exists(_._1 == "quarantined"),
      "the corrupt-payload path must be exercised")
  }

  test("T54 streaming audio gate: per-rate admissions equal the " +
       "closed-form PCM sums and truncated payloads are quarantined") {
    import spark.implicits._
    val got = StreamOps.streamingAudioGate(spark, sfDir)
      .as[(String, Long, Long, Long)].collect().toSet
    val docs = Tables.documents(spark, sfDir).select("doc_id")
    // replay the encoder formulas: rate = 8000 + (doc_id%5)*4000,
    // n = doc_id%96+32, sample(i) = (31i + 13*doc_id) mod 65536 - 32768
    val want = docs.select(col("doc_id"),
        (col("doc_id") % 5 * 4000 + 8000).as("rate"),
        (col("doc_id") % 96 + 32).as("n"),
        (col("doc_id") % 7 === 0).as("bad"))
      .withColumn("ss", expr(
        """aggregate(transform(sequence(0, n - 1), i ->
             (i * 31 + doc_id * 13) % 65536 - 32768), 0L, (a, b) -> a + b)"""))
      .groupBy(when(col("bad"), lit("quarantined"))
        .otherwise(concat(lit("r"), col("rate").cast("string"))).as("k"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bad"), 0L).otherwise(col("n"))).as("total_samples"),
        sum(when(col("bad"), 0L).otherwise(col("ss"))).as("sample_sum"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got === want,
      "admitted rate groups must carry exact decoded sample sums and " +
        "the quarantine row must hold every truncated payload")
    assert(got.exists(_._1 == "quarantined") && got.size > 2,
      "both the quarantine path and multiple rate groups must be present")
  }

  test("T55 streaming video gate: demux+decode admissions equal the " +
       "fixture formulas, headers verify, truncated clips quarantined") {
    import spark.implicits._
    val got = StreamOps.streamingVideoGate(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // replay the fixture: clips on even docs, n = doc%4+2, dims at the
    // image-tier geometry, every valid clip header-consistent
    val want = Tables.documents(spark, sfDir).select("doc_id")
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"),
        (col("doc_id") % 4 + 2).as("n"),
        ((col("doc_id") % 4 + 2) * (col("doc_id") % 13 + 4)
          * (col("doc_id") % 11 + 4)).as("px"),
        (col("doc_id") % 7 === 0).as("bad"))
      .groupBy(when(col("bad"), lit("quarantined"))
        .otherwise(concat(lit("f"), col("n").cast("string"))).as("k"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bad"), 0L).otherwise(col("n"))).as("total_frames"),
        sum(when(col("bad"), 0L).otherwise(col("px"))).as("total_px"),
        sum(when(col("bad"), 0L).otherwise(1L)).as("n_hdr_ok"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got === want,
      "admitted frame-count groups must carry decoded-truth totals and " +
        "header verdicts, and the quarantine row every truncated clip")
    assert(got.exists(_._1 == "quarantined") && got.size === 3,
      "both frame-count groups and the quarantine path must be present")
  }

  test("T51 schema drift: narrow pre-drift files NULL-fill the new " +
       "column under the wide declared schema") {
    import spark.implicits._
    val got = StreamOps.streamingSchemaDrift(spark, sfDir)
      .as[(String, Long, Long)].collect().toSet
    val want = Tables.documents(spark, sfDir)
      .groupBy(when(col("doc_id") % 2 === 0, lit("pre_drift"))
        .otherwise(col("lang")).as("lang_k"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"))
      .as[(String, Long, Long)].collect().toSet
    assert(got === want,
      "both generations must fold into one aggregate: pre-drift rows " +
        "via the NULL-filled default, post-drift rows by their real lang")
    assert(got.exists(_._1 == "pre_drift") && got.size > 1,
      "both the old and new layout generations must be present")
  }

  test("T52 lineage: observed conservation counters equal the batch " +
       "count on both hops") {
    import spark.implicits._
    val n = Tables.events(spark, sfDir).count()
    val lineage = StreamOps.twoHopLineage(spark, sfDir)
      .filter(col("event_type") === "__lineage")
      .as[(String, Long, Long)].collect()
    assert(lineage.length === 1)
    assert(lineage.head._2 === n,
      s"hop A observed ${lineage.head._2} rows committed, batch says $n")
    assert(lineage.head._3 === n,
      s"hop B observed ${lineage.head._3} rows read, batch says $n")
    // and the totals rows are exactly t48's graded frame
    val totals = StreamOps.twoHopLineage(spark, sfDir)
      .filter(col("event_type") =!= "__lineage")
      .as[(String, Long, Long)].collect().toSet
    val t48 = StreamOps.twoHopPipeline(spark, sfDir)
      .as[(String, Long, Long)].collect().toSet
    assert(totals === t48)
  }

  test("T53 streaming incremental dedup: per-batch triage against the " +
       "sealed corpus unions to the one-shot batch triage") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select("doc_id", "text")
    val increment = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select("doc_id", "text")
      .union(corpus.filter(pmod(col("doc_id"), lit(7)) === 3)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val streamed = StreamOps.streamingIncrementalDedup(spark, sfDir)
      .as[(Long, String)].collect().toSet
    val batch = graft.ext.DedupOps.incrementalDedup(increment, corpus, 3, 0.5)
      .as[(Long, String)].collect().toSet
    assert(streamed === batch,
      "the streamed per-batch triage must union to the batch result — " +
        "per-doc status depends only on doc-vs-corpus")
    assert(Set("exact_dup", "near_dup", "kept").subsetOf(streamed.map(_._2)),
      "the fixture must exercise all three triage outcomes")
  }

  test("t24: nfc-keyed streaming dedup collapses both spellings per doc") {
    import spark.implicits._
    val out = StreamOps.streamingNfcDedup(spark, sfDir)
      .as[(String, Long)].collect().toMap
    val want = Tables.documents(spark, sfDir).groupBy("lang")
      .agg(countDistinct("text")).as[(String, Long)].collect().toMap
    // each doc arrives as TWO byte-different variants; NFC-keyed state
    // keeps exactly one — survivors equal per-lang distinct-text counts
    // (planted exact-dup texts collapse too)
    assert(out === want)
  }

  test("drain lands each arrival group as exactly one data micro-batch " +
       "(t50, t53)") {
    Seq[(String, () => Unit)](
      "t50" -> (() => StreamOps.streamingMediaGate(spark, sfDir).collect()),
      "t53" -> (() => StreamOps.streamingIncrementalDedup(spark, sfDir).collect())
    ).foreach { case (seat, run) =>
      run()
      val data = StreamOps.lastDrained.recentProgress.count(_.numInputRows > 0)
      assert(data === 2,
        s"$seat ran $data data micro-batches, want one per arrival group (2)")
    }
  }

  test("a layout with an empty arrival stages a zero-row file, and the " +
       "seat still returns its batch truth (s9 over an even-only fixture)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_even_only_fixture_")
    Tables.events(spark, sfDir).filter(pmod(col("event_id"), lit(2)) === 0)
      .write.parquet(dir.resolve("events.parquet").toString)
    val Seq(even, odd) =
      StreamOps.stagedFiles(spark, dir.toString, "stream_parity_stage")
    assert(spark.read.parquet(odd.toString).count() === 0L,
      "the empty odd arrival must be a zero-row file")
    assert(spark.read.parquet(even.toString).count() > 0L)
    val got = StreamOps.fileSinkExactlyOnce(spark, dir.toString)
      .as[(String, Long, Long)].collect().toSet
    val want = Tables.events(spark, dir.toString)
      .groupBy("event_type")
      .agg(count(lit(1)), sum(round(col("value") * 100).cast("long")))
      .as[(String, Long, Long)].collect().toSet
    assert(got.nonEmpty && got === want)
  }

  test("a staging write with more than one part file per arrival fails " +
       "the require") {
    val root = Files.createTempDirectory("graft_stage_require_")
    val rows = spark.range(3).select(col("id"), lit(0).as(StreamOps.Arrival))
    val e = intercept[IllegalArgumentException] {
      StreamOps.withConf(spark, Map("spark.sql.files.maxRecordsPerFile" -> "1")) {
        StreamOps.stageArrivals(rows, 1, root)
      }
    }
    assert(e.getMessage.contains("part files"))
  }

  test("a layout whose staged file was cleaned from under the memo " +
       "re-stages: t50 returns the same rows") {
    val before = StreamOps.streamingMediaGate(spark, sfDir).collect().toSet
    val staged = StreamOps.stagedFiles(spark, sfDir, "stream_t50_stage")
    Files.delete(staged(1))
    val after = StreamOps.streamingMediaGate(spark, sfDir).collect().toSet
    assert(after === before)
    val restaged = StreamOps.stagedFiles(spark, sfDir, "stream_t50_stage")
    assert(restaged.forall(Files.exists(_)) && restaged != staged)
  }
}
