package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the driver's TESTDATA layout (`TESTDATA.md`).
  *
  * The reference reads its dimension tables with full-table JDBC scans
  * (`/root/reference/voting.py:50-66`, `/root/reference/main.py:170-175`);
  * here the offline stand-in is a columnar parquet scan, which Catalyst can
  * prune and push filters into — strictly better at scale than `SELECT *`.
  */
object Tables {
  /** One resolved relation per (session, fixture dir, table): the
    * fixture files are immutable, so the DataFrame (an immutable
    * logical plan whose FileIndex holds the one-time listing + footer
    * schema probe) is reusable across every seat — the catalog-cache
    * behavior a warehouse gives resolved tables. Without this, each of
    * the board's ~600 table loads re-lists the directory and re-reads
    * parquet footers on the driver (~10–20 ms each — measured seconds
    * of pure floor across a full board run). The value carries the
    * table's [[fingerprint]], so a rewrite replaces the entry in place. */
  private[graft] val relMemo =
    SessionMemo[(String, String), (Long, DataFrame)]("tables")

  /** Cheap rewrite detector for the memo key: mtime ⊕ length of the
    * table path (one local stat per load — µs against the 10–20 ms
    * listing+footer probe the memo saves). The driver fixtures are
    * immutable, but an in-process rewrite of a SCRATCH fixture dir
    * (e.g. `tools.ScaleUp` output reused in the same JVM) bumps the
    * mtime and rebuilds the entry instead of silently serving the stale
    * file listing — no caller has to clear the memo. For a
    * DIRECTORY table the top-level stat alone is not enough: a rewrite
    * that replaces files INSIDE nested partition subdirectories leaves
    * the root's mtime untouched (only direct child add/remove bumps
    * it), and a same-length in-place rewrite can land within the
    * filesystem's mtime granularity — so the immediate children's
    * names, mtimes, and lengths are folded into the hash too (one
    * shallow listing, still µs). The guarantee is create/delete-scoped:
    * a rewrite one level down shows up because adding/removing/renaming
    * a grandchild bumps its parent dir's mtime — but an IN-PLACE byte
    * overwrite of an existing grandchild changes neither the root's nor
    * the subdir's stat and is NOT detected. Every in-process rewriter
    * here (Spark writers, the scale tools) goes through a
    * delete-then-recreate or fresh-part-file path, which is what keeps
    * the shallow probe sufficient; a tool that someday patches parquet
    * bytes in place must call [[SessionMemo.clearAll]] itself. */
  private[graft] def fingerprint(path: String): Long = {
    val f = new java.io.File(path)
    var h = f.lastModified ^ java.lang.Long.rotateLeft(f.length, 32)
    if (f.isDirectory) {
      val kids = f.listFiles()
      if (kids != null) {
        java.util.Arrays.sort(kids, new java.util.Comparator[java.io.File] {
          def compare(a: java.io.File, b: java.io.File): Int =
            a.getName.compareTo(b.getName)
        })
        kids.foreach { k =>
          h = h * 1099511628211L ^ k.getName.hashCode.toLong
          h = h * 1099511628211L ^ k.lastModified
          h = h * 1099511628211L ^ k.length
        }
      }
    }
    h
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val fp = fingerprint(path)
    relMemo(spark, (dir, name), valid = _._1 == fp) {
      (fp, spark.read.parquet(path))
    }._2
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** The events table's `ts` physical type has varied across testdata
    * generations — TIMESTAMP(NANOS) (unreadable by Spark without the
    * nanos-as-long legacy conf), and plain TIMESTAMP(µs, NTZ). Normalize
    * whatever the file carries to session-local TimestampType at the same
    * wall-clock instant (session tz is pinned UTC everywhere), so every
    * downstream op and the DuckDB oracle agree regardless of generation. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Read TIMESTAMP(isAdjustedToUTC=false) columns as TimestampType
    // directly (public compat conf) instead of TimestampNTZ + cast: a
    // cast on ts would defeat parquet predicate pushdown / row-group
    // min-max skipping for every time filter — the difference between
    // scanning a day and scanning 100 TB. Wall-clock identical under
    // the pinned UTC session tz.
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    normalizeTs(table(s, d, "events"))
  }

  /** Schema-adaptive `ts` conversion: raw nanos longs → µs TimestampType
    * with integer `div` (double division would lose precision above 2^53
    * ns); TIMESTAMP_NTZ → TimestampType (wall-clock preserving under the
    * pinned UTC session tz); TimestampType passes through. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
