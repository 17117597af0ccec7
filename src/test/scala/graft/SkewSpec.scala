package graft

import org.apache.spark.sql.functions._
import graft.ops.Aggregates

/** Why votesPerCandidateSalted exists: under a hot key, the plain
  * one-phase groupBy funnels the whole key through ONE reducer, while the
  * salted two-phase plan spreads it over `buckets` reducers and merges
  * `buckets` partial rows. Correctness is oracle-checked already; this
  * spec demonstrates the mechanism on a skewed fixture. */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  /** 200k events, 95% on one hot key — the "one candidate dominates the
    * election" shape from the reference domain. */
  private lazy val skewed = spark.range(200000)
    .select(
      col("id").as("event_id"),
      when(pmod(col("id"), lit(20)) < 19, lit("landslide"))
        .otherwise(concat(lit("minor_"), pmod(col("id"), lit(4)))).as("event_type"),
      (pmod(col("id") * 31, lit(97)) / 10.0).as("value"))

  test("salted aggregation equals the plain aggregation on skewed data") {
    val plain = Aggregates.votesPerCandidate(skewed)
      .as[(String, Double, Long)].collect()
      .map { case (t, v, n) => t -> (v, n) }.toMap
    val salted = Aggregates.votesPerCandidateSalted(skewed)
      .as[(String, Double, Long)].collect()
      .map { case (t, v, n) => t -> (v, n) }.toMap
    assert(salted === plain)
  }

  test("phase 1 spreads the hot key over `buckets` groups of even size") {
    val buckets = 16
    // recreate the salted plan's phase-1 grouping and inspect group sizes
    val phase1 = skewed
      .groupBy(col("event_type"), pmod(col("event_id"), lit(buckets)).as("__salt"))
      .agg(count(lit(1)).as("n"))
    val hot = phase1.filter(col("event_type") === "landslide")
      .select("n").as[Long].collect()
    assert(hot.length === buckets,
      s"hot key must occupy all $buckets salt groups, got ${hot.length}")
    val hotTotal = hot.sum
    val ideal = hotTotal.toDouble / buckets
    assert(hot.max <= ideal * 1.25,
      s"salt groups must be balanced: max ${hot.max} vs ideal $ideal")
    // without salt, the same key is a single group of hotTotal rows — the
    // single-reducer bottleneck the salted plan removes
    assert(hotTotal > 100000L)
  }

  test("AQE splits the skewed join partition at runtime") {
    // salting covers aggregation skew; JOIN skew is AQE's job — force a
    // shuffle join on the hot key with thresholds scaled to the fixture
    // and assert OptimizeSkewedJoin actually split the hot partition
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      // the fixture's hot partition is ~200k rows but RLE-compresses to a
      // few tens of KB in the shuffle, so thresholds scale down with it
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // materialize the dim side first: OptimizeSkewedJoin pattern-matches
      // sort-over-shuffle-stage on BOTH children, so an aggregate directly
      // under the join's sort would disqualify the rewrite
      val dimDir = java.nio.file.Files
        .createTempDirectory("graft_skew_dim_").toString
      skewed.select("event_type").distinct()
        .withColumn("payload", lit("x"))
        .write.mode("overwrite").parquet(dimDir)
      val joined = skewed.join(spark.read.parquet(dimDir), "event_type")
      // collect() drives joined's OWN QueryExecution, so the adaptive plan
      // below is the final (post-reoptimization) one
      assert(joined.collect().length === 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("skew"),
        s"AQE should mark the hot partition as skewed:\n${plan.take(2000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("j7b fixture is genuinely skewed and the salted join replays the " +
       "plain join on it") {
    val ev = graft.ops.Joins.injectSkewKey(Tables.events(spark, sfDir))
    // the injected hot key must dominate: ~90% of probe rows on key 1
    val total = ev.count()
    val hot = ev.filter(col("skew_key") === 1L).count()
    assert(hot >= (total * 0.85).toLong,
      s"hot key holds $hot of $total — fixture not skewed")
    val cust = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_mktsegment")
    val salted = graft.ops.Joins
      .saltedJoin(ev, cust, "skew_key", "c_custkey", "event_id", 16)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val plain = ev.join(cust, col("skew_key") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(salted === plain)
  }

  test("j7c: AQE splits the j7b fixture's hot partition and agrees with " +
       "the salted join") {
    // same injected-skew fixture as the graded j7b/j7c queries, with the
    // skew thresholds scaled to the sf0.001 shuffle sizes so the split
    // OptimizeSkewedJoin performs at 256 MB partitions in production is
    // observable here
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4096",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2048",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    graft.streaming.StreamOps.withConf(spark, confs) {
      // skew splits are MAPPER ranges — a one-file local scan is one
      // mapper and unsplittable, so spread the probe over 8 mappers
      // first (the stand-in for a 100 TB scan's thousands of mappers)
      val ev = graft.ops.Joins.injectSkewKey(Tables.events(spark, sfDir))
        .repartition(8, col("event_id"))
      val cust = Tables.customer(spark, sfDir)
        .select("c_custkey", "c_mktsegment")
      val joined = graft.ops.Joins
        .skewJoinAqe(ev, cust, "skew_key", "c_custkey")
      val aqe = joined
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      val salted = graft.ops.Joins
        .saltedJoin(ev, cust, "skew_key", "c_custkey", "event_id", 16)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      assert(aqe === salted)
      // drive the bare join with collect() — count() plans a SEPARATE
      // QueryExecution, leaving this one's adaptive plan non-final —
      // then assert the specific split marker (the join column is
      // literally named skew_key, so a bare substring match on "skew"
      // would pass vacuously)
      val bare = graft.ops.Joins.skewJoinAqe(ev, cust, "skew_key", "c_custkey")
      assert(bare.collect().nonEmpty)
      val plan = bare.queryExecution.executedPlan.toString
      assert("skew=\\[?true".r.findFirstIn(plan.toLowerCase).isDefined,
        s"AQE should mark the hot partition as skewed:\n${plan.take(2000)}")
    }
  }

  test("t17b triage ranks the flooding key first with a dominant share") {
    val triage = graft.streaming.StreamOps
      .deadLetterTriageSkewed(spark, sfDir)
      .as[(Long, Long)].collect()
    assert(triage.nonEmpty)
    val (topKey, topCount) = triage.head
    assert(topKey === 1L, s"flooding key must rank first, got $topKey")
    val rest = triage.tail.map(_._2).sum
    assert(topCount > rest,
      s"hot key ($topCount dead rows) must dominate the tail ($rest)")
  }

  test("salted plan pays exactly one extra (cheap) exchange") {
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
    val plain = exchanges(Aggregates.votesPerCandidate(skewed))
    val salted = exchanges(Aggregates.votesPerCandidateSalted(skewed))
    assert(salted === plain + 1,
      "two-phase = one extra exchange, carrying only buckets×keys rows")
  }
}
