package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Schemas
import graft.ops.Decode
import graft.pipeline.VotePipeline

/** The paper's pipeline in streaming form: vote wire files arrive in a
  * topic directory, one long-lived query decodes them (`from_json` over
  * the 21-field `VoteSchema`), sums votes per candidate and re-emits the
  * complete board through `foreachBatch` — the chain of
  * `VotePipeline.streamingReEmit`, composed from the same public
  * functions, because that entry point only drains a pre-staged topic.
  *
  * Phase A is an open loop: a generator thread moves one file into the
  * topic every `1 / FilesPerSecond` s, and each file's latency runs from
  * its due time to the commit of the first board that includes it.
  * Phase B drains a fixed backlog until the run's time is up (at least
  * [[MinDrains]] times) and gives capacity.
  * Every board is checked against the closed-form count of the files it
  * includes, which also proves boards are monotone. */
object VoteStream {
  val Name = "vote_stream"
  val VotesPerFile = 2500
  val FilesPerSecond = 4
  val BacklogFiles = 16
  /** Share of the run's seconds given to the open loop; drains fill the rest. */
  val OpenShare = 0.6
  val MinDrains = 3
  val MaxDrains = 10
  val WarmFiles = 2
  val MaxFilesPerTrigger = 8
  /** Distinct voter blocks rendered, rounded up to a multiple of the
    * cores; arrival files are copies of them. */
  val DistinctBlocks = 16

  /** Votes per candidate id ("c0".."c2") among voters [lo, hi): the
    * generator's choice is `pmod(id * 31 + 7, 3)`. */
  def closedForm(lo: Long, hi: Long): Map[String, Long] =
    (lo until hi).groupBy(id => (id * 31 + 7) % 3).map { case (c, ids) => s"c$c" -> ids.size.toLong }

  /** The block of voter ids each of `n` arriving files carries, out of
    * `distinct` blocks: consecutive seed-shuffled rounds over all blocks. */
  def arrivalBlocks(n: Int, distinct: Int, seed: Long): IndexedSeq[Int] = {
    val rnd = new Random(seed)
    Iterator.continually(rnd.shuffle((0 until distinct).toIndexedSeq)).flatten.take(n).toIndexedSeq
  }

  /** The board after the first `n` arrivals: the closed form of each
    * arrival's block, summed. */
  def expectedBoard(blocks: Seq[Int], n: Int, from: Map[String, Long] = Map.empty): Map[String, Long] =
    blocks.take(n).foldLeft(from) { (acc, b) =>
      closedForm(b.toLong * VotesPerFile, (b + 1L) * VotesPerFile).foldLeft(acc) {
        case (m, (c, v)) => m.updated(c, m.getOrElse(c, 0L) + v)
      }
    }

  /** Render `nBlocks` wire files of [[VotesPerFile]] votes, block b holding
    * voters [b * VotesPerFile, (b + 1) * VotesPerFile); returns the file of
    * each block. */
  def render(spark: SparkSession, dir: Path, nBlocks: Int, cpus: Int): IndexedSeq[Path] = {
    require(nBlocks % cpus == 0, "blocks must split evenly over the range partitions")
    VotePipeline.wire(spark, nBlocks.toLong * VotesPerFile)
      .withColumn("blk", (substring(col("key"), 2, 20).cast("long") / VotesPerFile).cast("int"))
      .write.partitionBy("blk").parquet(dir.toString)
    (0 until nBlocks).map { b =>
      val files = dir.resolve(s"blk=$b").toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      require(files.length == 1, s"block $b rendered as ${files.length} files")
      files.head.toPath
    }
  }

  /** One file per arrival in `dir`, a copy of its block's rendered file. */
  def arrivalFiles(staged: IndexedSeq[Path], blocks: Seq[Int], dir: Path): IndexedSeq[Path] = {
    Files.createDirectories(dir)
    blocks.zipWithIndex.map { case (b, k) => Files.copy(staged(b), dir.resolve(s"$k.parquet")) }.toIndexedSeq
  }

  private[perfbench] final case class Board(commitNs: Long, included: Int, ok: Boolean, writeMs: Double, backlog: Int)

  /** The long-lived query and its board log. */
  private[perfbench] final class Pipeline(spark: SparkSession, topic: Path, board: Path, ckpt: Path,
                               blocks: IndexedSeq[Int], arrived: AtomicInteger) {
    val boards = mutable.ArrayBuffer[Board]()
    private var expected = Map.empty[String, Long]
    private var included = 0
    private val lock = new Object

    val query: StreamingQuery = graft.streaming.StreamOps.perfScope(spark, Some(4)) {
      Decode.flatten(Decode.jsonDecode(Decode.castValueToString(
          spark.readStream.schema("key STRING, value BINARY")
            .option("maxFilesPerTrigger", MaxFilesPerTrigger).parquet(topic.toString)),
          Schemas.VoteSchema))
        .groupBy("candidate_id").agg(sum("vote").as("total_votes"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) => onBatch(batch); () }
        .start()
    }

    /** The board write is `VotePipeline.streamingReEmit`'s own; the
      * batch is persisted so that the check reads the rows just written
      * without running the batch twice. */
    private def onBatch(batch: DataFrame): Unit = {
      val backlog = arrived.get - included
      batch.persist()
      val w0 = System.nanoTime()
      batch.select(col("candidate_id").cast("string").as("key"),
          to_json(struct(col("candidate_id"), col("total_votes"))).cast("binary").as("value"))
        .write.mode("overwrite").parquet(board.toString)
      val commit = System.nanoTime()
      val totals = try batch.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
                   finally batch.unpersist()
      lock.synchronized {
        val sum = totals.values.sum
        val n = (sum / VotesPerFile).toInt
        val ok = sum % VotesPerFile == 0 && n >= included && n <= blocks.size && {
          val want = expectedBoard(blocks.slice(included, n), n - included, expected)
          if (totals == want) expected = want
          totals == want
        }
        if (ok) included = n
        else System.err.println(s"[perfbench] board $totals does not extend $expected")
        boards += Board(commit, n, ok, (commit - w0) / 1e6, backlog)
        lock.notifyAll()
      }
    }

    /** Block until the boards include `n` files; false on timeout. */
    def awaitIncluded(n: Int, timeoutS: Double): Boolean = lock.synchronized {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (included < n && System.nanoTime() < deadline && query.isActive)
        lock.wait(50)
      included >= n
    }

    /** Commit time of the first board including arrival k, if any. */
    def firstBoardWith(k: Int): Option[Board] = lock.synchronized(boards.find(_.included > k))
    def allOk: Boolean = lock.synchronized(boards.forall(_.ok))

    /** The board as written, read back from its files. */
    def writtenBoard: Map[String, Long] =
      spark.read.parquet(board.toString)
        .select(col("key"), get_json_object(col("value").cast("string"), "$.total_votes").cast("long"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def stop(): Unit = query.stop()
  }

  /** Move staged files into the topic; mtimes keep the arrival order,
    * which the file source follows. */
  private[perfbench] def deliver(files: Seq[Path], topic: Path, arrived: AtomicInteger): Unit = {
    val ms = System.currentTimeMillis()
    files.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f, FileTime.fromMillis(ms + i))
      Files.move(f, topic.resolve(s"arrival-${arrived.get}.parquet"), StandardCopyOption.ATOMIC_MOVE)
      arrived.incrementAndGet()
    }
  }

  /** Drain `files` as one backlog; returns the drain's wall seconds, or
    * NaN if the boards never caught up. */
  private def drain(p: Pipeline, files: Seq[Path], topic: Path, arrived: AtomicInteger): Double = {
    val t0 = System.nanoTime()
    deliver(files, topic, arrived)
    val target = arrived.get
    if (!p.awaitIncluded(target, 60)) Double.NaN
    else (p.firstBoardWith(target - 1).get.commitNs - t0) / 1e9
  }

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Double,
          tracer: Option[Tracer], cpus: Int): Outcome = {
    val nA = math.max(1, (seconds * OpenShare * FilesPerSecond).round.toInt)
    val nFiles = WarmFiles + nA + MaxDrains * BacklogFiles
    val root = graft.TmpDirs.create("vote_stream_")

    // set-up: render the voter blocks and copy them into arrival files,
    // warm the chain on its own throwaway topic, then prime the timed
    // query with its first files, one per trigger: a new query's first
    // micro-batch is about twice as slow as later ones, and the open loop
    // would queue behind it
    val s0 = System.nanoTime()
    val staged = render(spark, root.resolve("staged"), (DistinctBlocks + cpus - 1) / cpus * cpus, cpus)
    val blocks = arrivalBlocks(nFiles, staged.size, seed)
    val files = arrivalFiles(staged, blocks, root.resolve("arrivals"))
    val warmBlocks = arrivalBlocks(WarmFiles, staged.size, seed + 1)
    val warmFiles = arrivalFiles(staged, warmBlocks, root.resolve("warm-arrivals"))
    val stageS = (System.nanoTime() - s0) / 1e9
    val w0 = System.nanoTime()
    tracer.foreach { t => t.attach(); t.begin(-1) }
    val warmOk = {
      val topic = Files.createDirectories(root.resolve("warm-topic"))
      val arrived = new AtomicInteger()
      val p = new Pipeline(spark, topic, root.resolve("warm-board"), root.resolve("warm-ckpt"),
        warmBlocks, arrived)
      try {
        warmFiles.foreach(f => deliver(Seq(f), topic, arrived))
        // let the last trigger commit and report before the stop
        p.awaitIncluded(WarmFiles, 120) && { p.query.processAllAvailable(); p.allOk }
      } finally p.stop()
    }
    val topic = Files.createDirectories(root.resolve("topic"))
    val arrived = new AtomicInteger()
    val p = new Pipeline(spark, topic, root.resolve("board"), root.resolve("ckpt"), blocks, arrived)
    val primed =
      try files.take(WarmFiles).zipWithIndex.forall { case (f, i) =>
        deliver(Seq(f), topic, arrived); p.awaitIncluded(i + 1, 120)
      } catch { case e: Throwable => p.stop(); throw e }
    val primeBoards = p.boards.size
    val setupStats = tracer.map(_.end()).toSeq
    val warmS = (System.nanoTime() - w0) / 1e9
    System.gc()
    Report.resetJvm()

    val scopes = mutable.ArrayBuffer[LayerStats]()
    var scopeWall = 0.0
    def scoped[T](id: Int, traced: Boolean)(body: => T): T = {
      val tr = tracer.filter(_ => traced)
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      tr.foreach(_.begin(id))
      val ms0 = tr.map(_.nowMs).getOrElse(0.0)
      val t0 = System.nanoTime()
      try body finally tr.foreach { t =>
        scopeWall += (System.nanoTime() - t0) / 1e9
        t.driverSpan("vote.phase", ms0, t.nowMs)
        scopes += t.end()
      }
    }

    try {
      // Phase A: open loop
      val interval = 1.0 / FilesPerSecond
      val lateness = new Array[Double](nA)
      val tA = System.nanoTime() + 200000000L
      val end = tA + (seconds * 1e9).toLong
      val due = (0 until nA).map(k => tA + (k * interval * 1e9).toLong)
      val gen = new Thread(() => (0 until nA).foreach { k =>
        val wait = due(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        deliver(Seq(files(WarmFiles + k)), topic, arrived)
        lateness(k) = (System.nanoTime() - due(k)) / 1e9
      }, "vote-generator")
      val caughtUp = scoped(0, traced = true) {
        gen.start()
        gen.join()
        p.awaitIncluded(WarmFiles + nA, 60)
      }
      val arrivalOps = (0 until nA).map { k =>
        p.firstBoardWith(WarmFiles + k) match {
          case Some(b) => Op(s"arrival-$k", "pipeline", (b.commitNs - due(k)) / 1e9, 0, 0, VotesPerFile, b.ok)
          case None => Op(s"arrival-$k", "pipeline", Double.NaN, 0, 0, 0, ok = false)
        }
      }
      val boardsA = p.boards.toList.drop(primeBoards)

      // Phase B: closed drains of a fixed backlog until the time is up
      val drains = mutable.ArrayBuffer[(Double, Boolean)]()
      while (drains.size < MaxDrains && (drains.size < MinDrains || System.nanoTime() < end)) {
        val d = drains.size
        val first = WarmFiles + nA + d * BacklogFiles
        val backlog = files.slice(first, first + BacklogFiles)
        drains += ((scoped(1 + d, traced = d % 2 == 0)(drain(p, backlog, topic, arrived)), d % 2 == 0))
      }
      tracer.foreach(_.detach())
      val drainS = drains.map(_._1).toSeq
      val used = WarmFiles + nA + drains.size * BacklogFiles
      val final0 = p.awaitIncluded(used, 10)
      val boardOk = final0 && p.writtenBoard == expectedBoard(blocks, used)
      if (final0 && !boardOk) System.err.println("[perfbench] the written board is not the closed form")
      val valid = caughtUp && boardOk && p.allOk && !drainS.exists(_.isNaN) &&
        lateness.max <= interval
      if (lateness.max > interval)
        System.err.println(f"[perfbench] generator ran ${lateness.max}%.3f s late; run invalid")

      val layers = new Metrics
      tracer.foreach { _ =>
        Report.layers(layers, scopes.toSeq, nA + drains.count(_._2) * BacklogFiles, scopeWall, cpus, setupStats)
        Report.jvm(layers)
        absentSeatLayers(layers)
        val dataBoards = boardsA.zip(WarmFiles :: boardsA.map(_.included)).map { case (b, prev) => b.included - prev }
        layers("vote.files_per_batch", "count", dataBoards.sum.toDouble / dataBoards.size.max(1))
        layers("vote.backlog_files_max", "count", p.boards.map(_.backlog).max)
        layers("vote.board_write_ms", "ms", p.boards.map(_.writeMs).sum / p.boards.size)
        layers("vote.gen_late_max_s", "s", lateness.max)
        Seq("ops", "ext", "streaming").foreach(f => layers(s"family.${f}_s", "s", 0.0))
        layers("family.pipeline_s", "s", Report.median(drainS))
        val (on, off) = drains.toSeq.partition(_._2)
        layers("trace.overhead_ratio", "ratio",
          Report.median(on.map(_._1)) / Report.median(off.map(_._1)))
      }
      val capacity = Report.median(drainS.map(s => BacklogFiles * VotesPerFile / s))
      p.stop()
      if (tracer.isDefined)
        layers("vote.votes_per_s_1core", "1/s",
          oneCoreCapacity(spark, work, staged, seed))
      Outcome(arrivalOps, if (warmOk && primed) 0 else 1, drainS, capacity, stageS, warmS, valid, layers)
    } finally p.stop()
  }

  /** Capacity of the same chain on `local[1]` over a warm-up and one
    * backlog drain: the per-core scaling reference. Replaces the session
    * with a one-core one. */
  private def oneCoreCapacity(spark: SparkSession, work: Path, staged: IndexedSeq[Path],
                              seed: Long): Double = {
    spark.stop()
    val one = Env.session(1, work)
    val root = graft.TmpDirs.create("vote_1core_")
    val topic = Files.createDirectories(root.resolve("topic"))
    val arrived = new AtomicInteger()
    val blocks = arrivalBlocks(WarmFiles + BacklogFiles, staged.size, seed + 2)
    val files = arrivalFiles(staged, blocks, root.resolve("arrivals"))
    val p = new Pipeline(one, topic, root.resolve("board"), root.resolve("ckpt"), blocks, arrived)
    try {
      drain(p, files.take(WarmFiles), topic, arrived)
      BacklogFiles * VotesPerFile / drain(p, files.drop(WarmFiles), topic, arrived)
    } finally { p.stop(); one.stop() }
  }

  /** Seat-only layers, absent from this workload. */
  def absentSeatLayers(m: Metrics): Unit = {
    m("seat.build_s", "s", 0.0); m("seat.action_s", "s", 0.0); m("seat.rows", "count", 0.0)
  }

  /** Vote-stream-only layers, absent from the seat workloads. */
  def absentVoteLayers(m: Metrics): Unit = {
    m("vote.files_per_batch", "count", 0.0); m("vote.backlog_files_max", "count", 0.0)
    m("vote.board_write_ms", "ms", 0.0); m("vote.gen_late_max_s", "s", 0.0)
    m("vote.votes_per_s_1core", "1/s", 0.0)
  }
}
