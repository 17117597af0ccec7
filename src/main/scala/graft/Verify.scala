package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Static plans by default: the driver's gate config. SPARK_GRAFT_AQE=1
    // runs the dump under the SAME adaptive config the bench times
    // (TmpDirs.timedSessionBuilder: AQE + coalescing to the 8 MB advisory
    // target instead of the core count — an interleaved in-JVM A/B of
    // that target read 57.3 -> 55.4 s over 243 batch seats, worst seat
    // +0.004 s), so the timed configuration is differentially validated
    // against the DuckDB oracle too, not just the static-plan one.
    val spark = TmpDirs.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), aqeByDefault = false)
    new java.io.File(outDir).mkdirs()
    // local-iteration filter, same contract as Bench's: comma-separated
    // name prefixes; unset = everything (the driver always runs unset)
    val selected = sys.env.get("SPARK_GRAFT_VERIFY_FILTER") match {
      case Some(p) =>
        val prefixes = p.split(",").map(_.trim).filter(_.nonEmpty)
        SparkEntry.queries.filter { case (n, _) => prefixes.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    // release the board-run memos (dedup truth/cluster checkpoints,
    // storage layout dirs) before teardown — nothing may outlive the run
    SessionMemo.clearAll()
    spark.stop()
  }

  /** `oracles` as the JSON object `oracle_sql.json` holds. Strings escape
    * backslash, quote and ALL control chars (< 0x20): a tab or CR in an
    * oracle would otherwise fail the reader's `json.load`, and with it
    * every seat's grade. */
  def oracleJson(oracles: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
