package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** T28's two halves, pinned at the mechanism level: under the Avro state
  * encoding a WIDENED state schema restarts green over the same
  * checkpoint (the long-running stream's code-upgrade path), while the
  * UnsafeRow default REFUSES the same restart — the refusal is the
  * documented behavior, not a bug, so a spec guards each side. */
class StateSchemaUpgradeSpec extends SparkSpec {
  import spark.implicits._

  test("avro encoding: widened TWS state restarts over the same " +
       "checkpoint and keeps accumulating") {
    val got = StreamOps
      .stateSchemaUpgradeTotals(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, n, c, n2) => u -> ((n, c, n2)) }.toMap
    val truth = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"),
        count(when(pmod(col("event_id"), lit(2)) === 1, 1)).as("n2"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, n, c, n2) => u -> ((n, c, n2)) }.toMap
    assert(got === truth)
    // the evolved field must be a strict subset of the totals somewhere:
    // at least one user has pre-upgrade history (n2 < n), proving V2
    // really read V1-era state instead of starting fresh
    assert(got.exists { case (_, (n, _, n2)) => n2 < n },
      "no user carried pre-upgrade state across the restart")
  }

  test("unsaferow encoding (the default) refuses the widened restart") {
    val e = intercept[Exception] {
      StreamOps.stateSchemaUpgradeTotals(spark, sfDir, encoding = "unsaferow").collect()
    }
    val msg = (e.getMessage +: Iterator.iterate(e.getCause)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).toSeq).mkString(" | ")
    assert(msg.toLowerCase.contains("schema"),
      s"expected a state-schema incompatibility refusal, got: " +
        s"${msg.take(400)}")
  }

  test("plain streaming aggregation refuses a widened agg over the same " +
       "checkpoint (the non-TWS operator family has no evolution path)") {
    val root = TmpDirs.create("graft_upg_agg_")
    val topic = root.resolve("topic")
    java.nio.file.Files.createDirectory(topic)
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "value")
    // the file source lists the topic dir non-recursively: stage the
    // parquet part FILE into it (as StreamOps' staged arrivals do)
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val staged = root.resolve(s"${name}_stage").toString
      df.coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, topic.resolve(s"$name.parquet"))
    }
    stage("f0", ev.filter(pmod(col("event_id"), lit(2)) === 0))
    val ckpt = root.resolve("ckpt").toString
    def start(widened: Boolean) = {
      val base = spark.readStream
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
        .parquet(topic.toString)
        .groupBy("user_id")
      val agg =
        if (widened) base.agg(sum("value").as("s"), count(lit(1)).as("n"))
        else base.agg(sum("value").as("s"))
      agg.writeStream.format("memory")
        .queryName(freshSinkName("graft_upg_agg"))
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
    }
    val q1 = start(widened = false)
    try q1.processAllAvailable() finally q1.stop()
    stage("f1", ev.filter(pmod(col("event_id"), lit(2)) === 1))
    val e = intercept[Exception] {
      val q2 = start(widened = true)
      try q2.processAllAvailable() finally q2.stop()
    }
    val msg = (e.getMessage +: Iterator.iterate(e.getCause)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).toSeq).mkString(" | ")
    assert(msg.toLowerCase.contains("schema"),
      s"expected a state-schema incompatibility refusal, got: " +
        s"${msg.take(400)}")
  }
}
