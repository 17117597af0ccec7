package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Micro-profiler for the PER-SEAT STREAMING MACHINERY FLOOR — the
  * ~0.7 s/seat of stream-start + per-micro-batch commit + state-store
  * cost that dominates the board's streaming tier at bench scale
  * (VERDICT r14: the 297-seat board carries a ~116 s machinery floor,
  * 55 of those seats streaming). Times a TRIVIAL stateful query (so
  * data ≈ 0 and the reading IS the machinery) across the knob grid
  * that the harnesses actually control:
  *
  *   - state partitions (1 / 2 / 4 / 8): one state-store commit per
  *     partition per batch,
  *   - provider (HDFS-heap vs RocksDB): native-DB open/commit cost,
  *   - micro-batch count (1 / 2 / 3): per-batch offset/commit-log and
  *     state rounds.
  *
  * Method: one warm round per cell shape first (generated classes are
  * tree-keyed), then `reps` timed runs, min taken — the same min-of-N
  * discipline as the bench probes. Prints one line per cell:
  * `floor provider=rocksdb parts=4 batches=2 min=0.61 med=0.66`.
  *
  * Every run goes through the seats' own harness
  * ([[graft.streaming.StreamOps.drain]] under
  * [[graft.streaming.StreamOps.withConf]]), so the cell confs are
  * restored after each run.
  *
  * Usage: `sbt "runMain graft.tools.StreamFloor [reps]"`.
  */
object StreamFloor {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(5)
    val spark = graft.TmpDirs.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), aqeByDefault = true)
    val S = graft.streaming.StreamOps

    val rocks = S.RocksDbProvider
    val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

    // one staged 100-row arrival file per batch slot, written once
    val stage = graft.TmpDirs.create("graft_floor_stage_")
    (0 until 3).foreach { i =>
      spark.range(100).selectExpr(s"id + ${i * 1000} AS k", "id * 31 AS v")
        .coalesce(1).write.parquet(stage.resolve(s"b$i").toString)
    }
    def partFile(i: Int) = Option(stage.resolve(s"b$i").toFile.listFiles())
      .get.filter(_.getName.endsWith(".parquet")).head.toPath

    /** One cell run: seconds from landing the first arrival to the
      * stopped query, and that query (its `recentProgress` carries the
      * per-batch `durationMs`). */
    def runOnce(provider: String, parts: Int, batches: Int): (Double, StreamingQuery) = {
      val root = graft.TmpDirs.create("graft_floor_")
      val topic = java.nio.file.Files.createDirectory(root.resolve("topic"))
      val land = (0 until batches).map { i => () =>
        java.nio.file.Files.createLink(topic.resolve(s"f$i.parquet"), partFile(i)); ()
      }
      val t0 = System.nanoTime()
      S.withConf(spark, Map(
          "spark.sql.shuffle.partitions" -> parts.toString,
          "spark.sql.streaming.stateStore.providerClass" -> provider,
          "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")) {
        val table = s"floor_${System.nanoTime()}"
        val q = S.drain(land: _*)(spark.readStream.schema("k BIGINT, v BIGINT")
          .parquet(topic.toString)
          .groupBy(pmod(col("k"), lit(16)).as("b"))
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(table)
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .outputMode("update")
          .start())
        spark.catalog.dropTempView(table)
        ((System.nanoTime() - t0) / 1e9, q)
      }
    }
    def label(provider: String) = if (provider == rocks) "rocksdb" else "hdfs"

    for (provider <- Seq(hdfs, rocks); parts <- Seq(1, 2, 4, 8);
         batches <- Seq(1, 2, 3)) {
      runOnce(provider, parts, batches) // warm the cell shape
      val ts = (1 to reps).map(_ => runOnce(provider, parts, batches)._1).sorted
      println(f"floor provider=${label(provider)}%-7s parts=$parts batches=$batches " +
        f"min=${ts.head}%.3f med=${ts(ts.size / 2)}%.3f")
    }

    // WHERE the per-batch time goes: rerun one representative cell and
    // dump the engine's own durationMs decomposition per micro-batch
    for (provider <- Seq(hdfs, rocks))
      runOnce(provider, 4, 3)._2.recentProgress.foreach { p =>
        println(s"durations provider=${label(provider)} parts=4 batch=${p.batchId} " +
          p.durationMs.asScala.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=$v" }
            .mkString(" "))
      }
    spark.stop()
  }
}
