package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Session and scratch set-up. Everything a run writes goes under its
  * work directory: the program's scratch root ([[graft.TmpDirs]]), Spark's
  * local dirs and the warehouse. */
object Env {

  /** Point [[graft.TmpDirs]]' scratch root at `dir`. The root is a private
    * lazy val that otherwise picks a machine-wide RAM disk, so it is set by
    * reflection before its first use. */
  def redirectScratch(dir: Path): Unit = {
    Files.createDirectories(dir)
    val tmp = graft.TmpDirs
    val cls = tmp.getClass
    val root = cls.getDeclaredFields.find(_.getName == "root").getOrElse(
      sys.error("graft.TmpDirs has no `root` field; update Env.redirectScratch"))
    val bitmap = cls.getDeclaredFields.find(_.getName.startsWith("bitmap$"))
      .getOrElse(sys.error("graft.TmpDirs.root is no longer a lazy val"))
    root.setAccessible(true); bitmap.setAccessible(true)
    tmp.synchronized {
      root.set(tmp, dir)
      bitmap.getType match {
        case java.lang.Boolean.TYPE => bitmap.setBoolean(tmp, true)
        case java.lang.Byte.TYPE => bitmap.setByte(tmp, (bitmap.getByte(tmp) | 1).toByte)
        case java.lang.Integer.TYPE => bitmap.setInt(tmp, bitmap.getInt(tmp) | 1)
        case t => sys.error(s"unexpected lazy-val bitmap type $t")
      }
    }
    require(graft.TmpDirs.create("probe_").startsWith(dir),
      "scratch redirect did not take effect")
  }

  /** The board's timed session (`TmpDirs.timedSessionBuilder`) on
    * `local[cpus]`, with the native vector-math rule installed as
    * every driving session does. */
  def session(cpus: Int, work: Path): SparkSession = {
    javax.imageio.ImageIO.setUseCache(false)
    val spark = graft.TmpDirs.timedSessionBuilder(cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.installOptimizations(spark)
    spark
  }
}
