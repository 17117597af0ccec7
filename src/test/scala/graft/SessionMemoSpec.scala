package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** The [[SessionMemo]] contract, one test per property. Every test uses
  * its own handle, so the board's memos are never touched. */
class SessionMemoSpec extends SparkSpec {

  test("concurrent first callers of one key share exactly one build") {
    val memo = SessionMemo[String, Int]("spec_concurrent")
    val builds = new AtomicInteger(0)
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val calls = (1 to n).map { _ =>
        Future {
          start.await()
          memo(spark, "k") { builds.incrementAndGet(); Thread.sleep(200); 42 }
        }
      }
      start.countDown()
      val got = Await.result(Future.sequence(calls), 60.seconds)
      assert(got.forall(_ == 42))
      assert(builds.get == 1, s"$n first callers ran ${builds.get} builds")
    } finally pool.shutdownNow()
  }

  test("a build may memoize another key of the same handle") {
    val memo = SessionMemo[String, Int]("spec_nested")
    implicit val ec: ExecutionContext = ExecutionContext.global
    val outer = Future {
      memo(spark, "outer") { memo(spark, "inner")(1) + 1 }
    }
    assert(Await.result(outer, 60.seconds) == 2)
    assert(memo(spark, "inner")(-1) == 1)
    assert(memo.size == 2)
  }

  test("a build re-entering its own key fails fast instead of deadlocking") {
    val memo = SessionMemo[String, Int]("spec_recursive")
    intercept[IllegalStateException] {
      memo(spark, "k") { memo(spark, "k")(1) }
    }
    assert(memo.size == 0)
  }

  test("a throwing build is not cached: the next call retries") {
    val memo = SessionMemo[String, Int]("spec_throw")
    var builds = 0
    intercept[RuntimeException] {
      memo(spark, "k") { builds += 1; throw new RuntimeException("boom") }
    }
    assert(memo.size == 0)
    assert(memo(spark, "k") { builds += 1; 7 } == 7)
    assert(builds == 2)
    assert(memo(spark, "k") { builds += 1; 8 } == 7)
    assert(builds == 2)
  }

  test("a hit failing valid is rebuilt in place") {
    val memo = SessionMemo[String, Int]("spec_valid")
    assert(memo(spark, "k")(1) == 1)
    assert(memo(spark, "k")(2) == 1)
    assert(memo(spark, "k", valid = _ => false)(3) == 3)
    assert(memo(spark, "k")(4) == 3)
    assert(memo.size == 1)
  }

  test("clear runs release on every built value") {
    val released = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val memo = SessionMemo[String, Int]("spec_release",
      release = v => { released.add(v); () })
    memo(spark, "a")(1); memo(spark, "b")(2)
    memo.clear()
    assert(memo.size == 0)
    import scala.jdk.CollectionConverters._
    assert(released.asScala.toSet == Set(1, 2))
  }

  test("a stopped session's entries are swept on the next miss; a new session rebuilds") {
    // Stopping a SparkContext would stop the session every spec shares,
    // so this property runs in a child JVM (SessionMemoStoppedProbe).
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("-D"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java",
      "-Xmx512m", "-cp", System.getProperty("java.class.path")) ++
      jvmArgs ++ Seq(SessionMemoStoppedProbe.getClass.getName.stripSuffix("$"))
    val log = java.nio.file.Files.createTempFile("session_memo_probe", ".log")
    try {
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(log.toFile).start()
      assert(p.waitFor(180, TimeUnit.SECONDS), "probe JVM timed out")
      val out = java.nio.file.Files.readString(log)
      assert(p.exitValue == 0, s"probe failed:\n$out")
      assert(out.contains("PROBE OK"), out)
    } finally java.nio.file.Files.deleteIfExists(log)
  }

  test("Tables.table serves a rewritten scratch table's new rows from one entry") {
    import spark.implicits._
    val dir = TmpDirs.create("graft_memo_table_").toString
    val path = s"$dir/t.parquet"
    Seq(1L, 2L).toDF("x").write.parquet(path)
    assert(Tables.table(spark, dir, "t").count() == 2)
    val entries = Tables.relMemo.size
    Seq(3L, 4L, 5L).toDF("x").write.mode("overwrite").parquet(path)
    val reread = Tables.table(spark, dir, "t")
    assert(reread.as[Long].collect().sorted.toSeq == Seq(3L, 4L, 5L))
    assert(Tables.relMemo.size == entries,
      "the rewrite must replace the table's entry, not add one")
  }
}

/** Child-JVM body of the stopped-session property: memoize under one
  * session, stop it, then miss under a fresh session. Prints `PROBE OK`
  * and exits 0 iff the stopped session's entry was swept and the new
  * session rebuilt. */
object SessionMemoStoppedProbe {
  def main(args: Array[String]): Unit = {
    def session(): SparkSession = SparkSession.builder()
      .master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    val memo = SessionMemo[String, Int]("probe_stopped")
    var builds = 0
    val s1 = session()
    memo(s1, "k") { builds += 1; 1 }
    memo(s1, "other") { builds += 1; 10 }
    s1.stop()
    val s2 = session()
    val v = memo(s2, "k") { builds += 1; 2 }
    val ok = (s2 ne s1) && v == 2 && builds == 3 && memo.size == 1 &&
      memo.values == Seq(2)
    s2.stop()
    println(if (ok) "PROBE OK"
      else s"PROBE FAILED: v=$v builds=$builds size=${memo.size}")
    sys.exit(if (ok) 0 else 1)
  }
}
