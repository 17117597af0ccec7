package graft

import java.nio.file.{Files, Path, Paths}

/** Central factory for graft scratch directories — stream topic dirs,
  * streaming checkpoints, staged storage layouts, embedded-DB homes.
  *
  * Prefers RAM-backed `/dev/shm` when writable: streaming micro-batch
  * latency on a local runner is dominated by checkpoint/offset-log
  * fsyncs and small staged files, which on an ext4 `/tmp` pay real disk
  * latency ~25 streaming queries × many micro-batches per bench run.
  * Everything created here is small (KB–MB scratch, never table-scale
  * data). Falls back to `java.io.tmpdir` when `/dev/shm` is absent. On
  * a real cluster the equivalent knobs are `spark.local.dir` and a
  * fast-storage `checkpointLocation` — this helper is the local-mode
  * stand-in, not a semantics change.
  */
object TmpDirs {
  private lazy val root: Path = {
    val shm = Paths.get("/dev/shm")
    // Guard against environments that mount a token-sized /dev/shm
    // (Docker defaults to 64 MB): a checkpoint ENOSPC mid-stream is far
    // worse than ext4 latency, so require real headroom before opting in.
    val shmUsable =
      Files.isDirectory(shm) && Files.isWritable(shm) &&
        (try shm.toFile.getUsableSpace >= 4L * 1024 * 1024 * 1024
         catch { case _: Throwable => false })
    val base =
      if (shmUsable) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(base.resolve("graft_scratch"))
  }

  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** The on-disk tmpdir as it was at class-load, BEFORE install()
    * repoints `java.io.tmpdir` — shuffle spill must stay here. If the
    * JVM was LAUNCHED with tmpdir already in tmpfs (a common tuning),
    * fall back to /tmp: pinning spark.local.dir into /dev/shm would be
    * exactly the shuffle-spill-in-RAM hazard install() exists to
    * prevent. */
  private val diskTmp: String = {
    val t = System.getProperty("java.io.tmpdir", "/tmp")
    if (t.startsWith("/dev/shm")) "/tmp" else t
  }

  /** Point the JVM's scratch (`java.io.tmpdir`) at the RAM-backed root
    * for graft's own KB–MB temp files, while PINNING `spark.local.dir`
    * to the original on-disk tmp: Spark's local dirs hold shuffle spill
    * and block-manager files — table-scale data that must not compete
    * with executor memory in tmpfs or hit a /dev/shm ENOSPC mid-query.
    * (SparkConf loads `spark.*` system properties, so setting the
    * property before SparkSession creation pins every session in this
    * JVM.) Call FIRST in a forked main, before any Spark or NIO temp
    * usage; a no-op when `/dev/shm` is unavailable. */
  def install(): Unit =
    if (root.startsWith("/dev/shm")) {
      System.setProperty("java.io.tmpdir", root.toString)
      if (System.getProperty("spark.local.dir") == null)
        System.setProperty("spark.local.dir", diskTmp)
    }

  /** Local-filesystem checkpoint fast path, the companion tuning to the
    * RAM-backed scratch above. The default FileContext-based checkpoint
    * manager routes every offset-log / commit-log / state-delta RENAME
    * through Hadoop's ChecksumFs → `FileSystem.rename(3-arg)` →
    * `FileUtil.readLink`, which **forks a shell process per rename**
    * (jstack-verified on this tree) — with ~4 renames per micro-batch
    * per stateful partition across ~54 streaming seats, that is the
    * dominant and LOAD-SENSITIVE share of the board's fixed streaming
    * cost (fork latency degrades with host load — the `calib_stream`
    * ambient mode). The FileSystem-based manager renames via
    * `java.io.File` directly, and `RawLocalFileSystem` additionally
    * skips the `.crc` shadow file each checkpoint write otherwise
    * creates (2× the small-file count). Semantics are unchanged for
    * this harness: the FileContext manager's advantage — rename
    * atomicity against a concurrent ZOMBIE writer on the same
    * checkpoint — needs two simultaneous drivers, which a single-JVM
    * sequential run never has. On a real cluster checkpoints live on
    * HDFS/object storage and this key is simply not set.
    *
    * Deliberately NOT set: `fs.file.impl=RawLocalFileSystem` (to skip
    * `.crc` shadow files) — measured to break RocksDB state-store
    * commits (CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT on the provider's
    * first checkpoint); the fork elimination above is the win that
    * matters and stands alone. To A/B against the stock manager in one
    * JVM, run `Bench --ab spark.sql.streaming.checkpointFileManagerClass=
    * <FileContextBased…>,<FileSystemBased…>`. */
  val localFsFastConfs: Map[String, String] = Map(
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  /** The bench's TIMED session configuration, in one place:
    * `local[cpus]`, shuffle width = cpus, UI off, the fast local
    * checkpoint manager ([[localFsFastConfs]]), and the adaptive-execution
    * posture Bench times (AQE + post-shuffle coalescing to the 8 MB
    * advisory target, `parallelismFirst` off). `SPARK_GRAFT_AQE` picks
    * the posture (`1` adaptive, `0` not); unset, `aqeByDefault` decides. To A/B another
    * advisory target in one JVM, run `Bench --ab
    * spark.sql.adaptive.advisoryPartitionSizeInBytes=64m,8m`. Every
    * driving session builds from here through [[session]] — profiled
    * readings must match the driver's config exactly, and
    * hand-maintained copies of this block had already drifted
    * ("optimized the wrong plan"). perfbench calls the one-argument
    * form (`aqeByDefault = true`). */
  def timedSessionBuilder(cpus: String, aqeByDefault: Boolean = true)
      : org.apache.spark.sql.SparkSession.Builder = {
    val builder = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    localFsFastConfs.foreach { case (k, v) => builder.config(k, v) }
    if (aqeOn(aqeByDefault)) {
      builder.config("spark.sql.adaptive.enabled", "true")
      builder.config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      builder.config(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      builder.config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    }
    builder
  }

  private def aqeOn(aqeByDefault: Boolean): Boolean =
    sys.env.getOrElse("SPARK_GRAFT_AQE", if (aqeByDefault) "1" else "0") == "1"

  /** The one driving session: Bench (`aqeByDefault = true`), Verify
    * (`false`, the driver's gate config) and the tool mains. Scratch
    * install, the ImageIO cache opt-out (explicit here, not only in the
    * codec objects' static init: it must hold for EVERY ImageIO user in
    * the run, incl. Spark's `image` datasource, whichever class loads
    * first), the [[timedSessionBuilder]] config in UTC, and graft's
    * optimizer rules ([[graft.functions.NativeVectorMathRule]],
    * [[graft.functions.JsonFieldPruning]]), which every driving session
    * needs (r17: the graded similarity paths otherwise run interpreted HOF
    * dot products; the vote decode otherwise parses every field of its
    * schema). The static posture sets AQE off
    * explicitly: Spark's own default is adaptive. */
  def session(cpus: String, aqeByDefault: Boolean)
      : org.apache.spark.sql.SparkSession = {
    install()
    javax.imageio.ImageIO.setUseCache(false)
    val builder = timedSessionBuilder(cpus, aqeByDefault)
      .config("spark.sql.session.timeZone", "UTC")
    if (!aqeOn(aqeByDefault)) builder.config("spark.sql.adaptive.enabled", "false")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.installOptimizations(spark)
    spark
  }
}
