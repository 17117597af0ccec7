package graft

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftExtensions, JsonFieldPruning, NativeVectorMathRule}

/** [[TmpDirs.session]], the one driving-session factory. The shared spec
  * session would swallow the factory's `getOrCreate`, so the checks run
  * in a child JVM (SessionFactoryProbe) that gets the module opens but
  * none of this JVM's `-Dspark.*` properties, no `SPARK_GRAFT_AQE`, and
  * a non-UTC JVM time zone: every property it sees comes from the
  * factory. */
class SessionFactorySpec extends AnyFunSuite {

  test("the factory session is UTC, fork-free, follows aqeByDefault and holds the rule once") {
    import scala.jdk.CollectionConverters._
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java",
      "-Xmx512m", "-Duser.timezone=America/New_York",
      "-cp", System.getProperty("java.class.path")) ++
      opens ++ Seq(SessionFactoryProbe.getClass.getName.stripSuffix("$"))
    val log = java.nio.file.Files.createTempFile("session_factory_probe", ".log")
    try {
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(log.toFile)
      pb.environment().remove("SPARK_GRAFT_AQE")
      val p = pb.start()
      assert(p.waitFor(180, TimeUnit.SECONDS), "probe JVM timed out")
      val out = java.nio.file.Files.readString(log)
      assert(p.exitValue == 0, s"probe failed:\n$out")
      assert(out.contains("PROBE OK"), out)
    } finally java.nio.file.Files.deleteIfExists(log)
  }
}

/** Child-JVM body: builds a static then an adaptive factory session and
  * prints `PROBE OK` (exit 0) iff every property holds, else each
  * failed check. */
object SessionFactoryProbe {
  def main(args: Array[String]): Unit = {
    def check(spark: SparkSession, aqe: Boolean): Seq[String] = {
      GraftExtensions.register(spark)
      val installed = spark.experimental.extraOptimizations
      Seq(
        "timeZone" -> (spark.conf.get("spark.sql.session.timeZone") == "UTC"),
        "checkpoint manager" -> (spark.conf.get(
          "spark.sql.streaming.checkpointFileManagerClass") ==
          TmpDirs.localFsFastConfs("spark.sql.streaming.checkpointFileManagerClass")),
        s"adaptive=$aqe" -> (spark.conf.get("spark.sql.adaptive.enabled") == aqe.toString),
        s"rules installed as ${installed.map(_.ruleName)}" ->
          Seq(NativeVectorMathRule, JsonFieldPruning).forall(r => installed.count(_ == r) == 1),
        "no spark.sql.extensions" -> !spark.sparkContext.getConf.contains("spark.sql.extensions"))
        .collect { case (name, false) => s"aqeByDefault=$aqe: $name" }
    }
    val failed = Seq(false, true).flatMap { aqe =>
      val spark = TmpDirs.session("1", aqeByDefault = aqe)
      try check(spark, aqe) finally spark.stop()
    }
    println(if (failed.isEmpty) "PROBE OK" else failed.mkString("PROBE FAILED: ", "; ", ""))
    sys.exit(if (failed.isEmpty) 0 else 1)
  }
}
