package graft

import org.apache.spark.sql.functions._

/** Incremental-maintenance seats: the partial-merge identity behind
  * `incr_agg_merge` (two-level fold ≡ one-level, by integer
  * associativity, with a genuinely split input) and batch/stream parity
  * for the t14 decontamination feed.
  */
class IncrementalSpec extends SparkSpec {

  test("incremental merge equals the direct aggregate, with real batches") {
    val events = Tables.events(spark, sfDir)
    val merged = graft.ops.Aggregates.incrementalMerge(events)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    val direct = events.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
           sum(round(col("value") * 100).cast("long")).as("c"),
           min("value").as("mn"), max("value").as("mx"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(merged == direct)
    // both hash-batches must be non-empty, or the merge never merged
    val batches = events.select(pmod(col("event_id"), lit(2)).as("b"))
      .groupBy("b").count().collect().map(_.getLong(1))
    assert(batches.length == 2 && batches.forall(_ > 0),
      s"degenerate batch split: ${batches.toSeq}")
  }

  test("timeout sessions: closed + still-open partition the batch sessions") {
    val gapUs = 1800L * 1000000L
    val closed = graft.streaming.StreamOps
      .streamingTimeoutSessions(spark, sfDir)
      .cache()
    // batch replay of all sessions in the same µs arithmetic
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val all = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
              col("event_id"))
      .withColumn("pus", lag("us", 1).over(w))
      .withColumn("new_s",
        when(col("pus").isNull || col("us") - col("pus") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(max("us").as("end_us"))
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val nAll = all.count()
    val nOpenTails = all
      .withColumn("last_sid",
        max("sid").over(Window.partitionBy("user_id")))
      .filter(col("sid") === col("last_sid") &&
        !(((col("end_us") + gapUs) / 1000).cast("long") < lit(maxUs / 1000)))
      .count()
    assert(nOpenTails > 0, "no session survives to stream end: vacuous")
    assert(closed.count() + nOpenTails == nAll,
      s"closed ${closed.count()} + open $nOpenTails != $nAll sessions")
    // timed-out tails really emitted (the timer branch is exercised)
    assert(closed.count() > 0)
  }

  test("file sink read trusts _spark_metadata, ignoring orphan files") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps.Ev
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sink_spec_")
    val out = root.resolve("out").toString
    val ms = MemoryStream[Ev]
    val q = ms.toDF().writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .outputMode("append").start()
    def ev(id: Long) = Ev(id, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
                          1L, "click", 1.0)
    try { ms.addData(ev(1), ev(2), ev(3)); q.processAllAvailable() }
    finally q.stop()
    assert(spark.read.parquet(out).count() == 3)
    // an interrupted batch leaves files the sink log never committed —
    // simulate one and prove the committed view doesn't change
    val stage = root.resolve("stage").toString
    Seq(ev(98), ev(99)).toDF().coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(out, "part-orphan.parquet"))
    assert(spark.read.parquet(out).count() == 3,
      "read must consult the sink transaction log, not the listing")
  }

  test("streaming decontamination feed matches the batch quarantine") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val eval = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val batch = graft.ext.DedupOps.decontaminate(corpus, eval)
      .filter(col("contaminated"))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(countDistinct("doc_id").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val streamed = graft.streaming.StreamOps
      .streamingDecontaminationFeed(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty, "vacuous: no contaminated docs in fixture")
  }

  test("sealed corpus index stays co-located: no shuffle re-partitions " +
       "a sealed index side in the per-batch triage plan") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select("doc_id", "text")
    val increment = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select("doc_id", "text")
    val idx = graft.ext.DedupOps.corpusIndex(corpus, 3)
    // plan WITHOUT AQE so the static tree is inspectable, and WITHOUT
    // broadcast so the sort-merge path is exercised (at this tiny SF the
    // index sides would broadcast and the partitioning claim go untested;
    // at scale the index is way past any broadcast threshold) — the point
    // is the advertised partitioning of the cached index sides (digests
    // hash-distinct on dig; shingles repartitioned+sorted on the join
    // key), which the sort-merge join must reuse as-is
    val prev = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    val plan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.ext.DedupOps.incrementalDedupIndexed(increment, idx, 3, tau = 0.5)
        .queryExecution.executedPlan
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev._1)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev._2)
    }
    val sealedScans = plan.collect { case r: InMemoryTableScanExec => r }
    assert(sealedScans.nonEmpty,
      "vacuous: the sealed index's cached scans are not in the plan")
    // an exchange is an offender only if it re-partitions a sealed scan
    // ITSELF — i.e. its unary operator chain (project/filter/sort) ends
    // at the cached relation scan. Shuffles above a join/aggregate merely
    // redistribute derived results and are the triage's own edges.
    @annotation.tailrec
    def chainLeaf(p: org.apache.spark.sql.execution.SparkPlan)
        : org.apache.spark.sql.execution.SparkPlan =
      if (p.children.size == 1) chainLeaf(p.children.head) else p
    val offenders = plan.collect {
      case e: ShuffleExchangeExec
          if chainLeaf(e.child).isInstanceOf[InMemoryTableScanExec] => e
    }
    assert(offenders.isEmpty,
      s"a shuffle re-partitions a sealed index side — the ingest batch " +
        s"must be the only shuffled edge:\n${offenders.map(_.treeString).mkString}")
  }
}
