package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

/** Every base oracle runs in DuckDB: `tools/compare.py --sql-only` over
  * the sf0.001 tables, which fails on any SQL error and on any decimal
  * (HUGEINT) column, the two faults the differential gate rejects before
  * it compares a value. Twins are aliases of a base, so this covers every
  * seat's oracle. No Spark session is started. */
class OracleDuckDbSpec extends SparkSpec {

  test("every base oracle runs in DuckDB over sf0.001 with no decimal column") {
    val dir = Files.createTempDirectory("graft_oracles")
    val json = dir.resolve("oracle_sql.json")
    try {
      Files.writeString(json, Verify.oracleJson(SparkEntry.oracleSqlBase))
      val script = Paths.get(sys.props("user.dir"), "tools", "compare.py").toString
      val p = new ProcessBuilder("python3", script, "--sql-only",
        sfDir, dir.toString).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor(600, TimeUnit.SECONDS), "oracle run timed out")
      assert(p.exitValue == 0, out)
      assert(out.contains(s"${SparkEntry.oracleSqlBase.size} ok, 0 bad"), out)
    } finally {
      Files.deleteIfExists(json)
      Files.deleteIfExists(dir)
    }
  }
}
