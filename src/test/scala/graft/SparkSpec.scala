package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Memory-sink names must be fresh per start: the session is shared
    * across suites, so a same-session re-run would otherwise collide on
    * the registered query name (the GenSourceSpec finding, applied
    * everywhere). */
  protected def freshSinkName(prefix: String): String =
    s"${prefix}_${SparkSpec.sinkNames.incrementAndGet()}_${System.nanoTime()}"

  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  private[graft] val sinkNames = new java.util.concurrent.atomic.AtomicLong(0)

  lazy val session: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // fork-free local checkpoint renames — same session tuning as the
    // driver-contract mains (TmpDirs.localFsFastConfs)
    TmpDirs.localFsFastConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // graft's optimizer rules, as in every main's session: installed here
    // once, so no spec's plans depend on which suite ran first. A spec
    // whose reference is the plan before a rewrite builds it on a
    // rule-free `spark.newSession()`.
    graft.functions.GraftExtensions.installOptimizations(s)
    s
  }
}
