package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}

/** Order-insensitive digest of a collected result: every row is rendered
  * canonically, the renderings are sorted, and the sorted list is hashed.
  * Floating-point values are rounded to 9 significant digits, so a sum
  * that a different partitioning adds in another order digests the same. */
object Digest {
  private val Sig = new MathContext(9)

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => renderFloat(d)
    case f: Float => renderFloat(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => "0x" + a.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  private def renderFloat(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(Sig).stripTrailingZeros.toPlainString

  def of(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    s"${rows.length}:" + md.digest().take(16).map(x => f"${x & 0xff}%02x").mkString
  }

  /** The committed digests of verified seat output (`digests.json`). */
  def load(p: java.nio.file.Path): Map[String, String] = {
    val it = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile).fields()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
    b.result()
  }

  /** Digests of a correctness dump: `dump/<seat>/` holds the seat's rows
    * as parquet (the layout of `graft.Verify`, whose dump
    * `tools/compare.py` checks against DuckDB). Prints one
    * `"seat": "digest"` JSON object.
    *
    * Usage: `Digest <dump dir> <seat,seat,...>` */
  def main(args: Array[String]): Unit = {
    val Array(dump, seats) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = seats.split(",").sorted.map { s =>
      s"""  "$s": "${of(spark.read.parquet(s"$dump/$s").collect())}""""
    }
    println(out.mkString("{\n", ",\n", "\n}"))
    spark.stop()
  }
}
