package graft

import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

/** Pins the scratch-vs-spill split: graft scratch may live in RAM-backed
  * /dev/shm, but Spark's local dirs (shuffle spill, block manager —
  * table-scale at the bench SF) must stay on real disk. A /dev/shm
  * spill dir competes with executor memory and can ENOSPC mid-query on
  * a larger SF, since the 4 GiB headroom check runs once at JVM start.
  */
class TmpDirsSpec extends SparkSpec {
  test("install() never routes spark.local.dir into /dev/shm") {
    TmpDirs.install()
    val localDir = System.getProperty("spark.local.dir")
    val tmpDir = System.getProperty("java.io.tmpdir")
    if (tmpDir.startsWith("/dev/shm")) {
      // install() opted into RAM scratch → the spill pin must exist and
      // point at disk.
      assert(localDir != null && !localDir.startsWith("/dev/shm"),
        s"spark.local.dir=$localDir must stay on disk when tmpdir is tmpfs")
    } else {
      // /dev/shm unusable here → install() is a no-op; nothing to pin.
      assert(localDir == null || !localDir.startsWith("/dev/shm"))
    }
  }

  test("create() yields writable scratch dirs under the chosen root") {
    val d = TmpDirs.create("graft_spec_")
    assert(java.nio.file.Files.isDirectory(d) && java.nio.file.Files.isWritable(d))
  }

  test("checkpoints get the FileSystem-based manager, and a scoped conf " +
       "swaps in the stock FileContext one") {
    val path = new org.apache.hadoop.fs.Path(
      TmpDirs.create("graft_ckpt_manager_").toString)
    def manager =
      CheckpointFileManager.create(path, spark.sessionState.newHadoopConf())
    assert(manager.isInstanceOf[FileSystemBasedCheckpointFileManager])
    graft.streaming.StreamOps.withConf(spark, Map(
        "spark.sql.streaming.checkpointFileManagerClass" ->
          classOf[FileContextBasedCheckpointFileManager].getName)) {
      assert(manager.isInstanceOf[FileContextBasedCheckpointFileManager])
    }
    assert(manager.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }
}
