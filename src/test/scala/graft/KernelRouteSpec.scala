package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions

/** Operator code reaches graft's native kernels as Columns
  * (`GraftExtensions.call` or a kernel's own `column`), so an operator
  * runs in a session that has neither graft's SQL names nor its
  * optimizer rules, and leaves that session as it found it. */
class KernelRouteSpec extends SparkSpec {

  /** A seat for each operator that builds a graft kernel through
    * `GraftExtensions.call`; `dedup_containment` stands for the seats
    * keyed by `DedupOps.shingleKeys`. */
  private val kernelSeats = Seq(
    "ann_cosine_topk_native", "ann_kmeans_cells", "ann_lsh_buckets",
    "dedup_containment", "dedup_decontaminate", "dedup_embedding_cosine",
    "dedup_incremental_bloom", "dedup_simhash_recall",
    "dedup_substring_spans", "j8b_jaro_winkler_match", "j8c_damerau_match",
    "t14_stream_decontaminate", "t24_stream_nfc_dedup",
    "t29_stream_ivf_ingest", "text_cdc_chunks", "text_fingerprints",
    "text_repetition", "text_source_overlap")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def functionNames(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet

  test("kernel operators run on a bare session and change none of its state") {
    val bare = spark.newSession()
    val namesBefore = functionNames(bare)
    assert(bare.experimental.extraOptimizations.isEmpty)
    // graft's SQL names: what `register` adds to a fresh session
    val probe = spark.newSession()
    GraftExtensions.register(probe)
    val graftNames = functionNames(probe) -- namesBefore
    assert(graftNames.nonEmpty)

    kernelSeats.foreach { seat =>
      val fn = SparkEntry.queries(seat)
      assert(rows(fn(bare, sfDir)) === rows(fn(spark, sfDir)), seat)
    }
    assert((functionNames(bare) -- namesBefore).isEmpty)
    assert((functionNames(bare) intersect graftNames).isEmpty)
    assert(bare.experimental.extraOptimizations.isEmpty)
  }

  test("call builds the expression the SQL name resolves to") {
    val probe = spark.newSession()
    GraftExtensions.register(probe)
    val df = probe.sql(
      """SELECT array(1.0D, 2.0D) AS v, 'a b a b' AS s, 'a c' AS t,
                split('a b a b', ' ') AS words, xxhash64('a') AS h,
                array(named_struct('c', 1L, 'u', array(1.0D, 0.0D))) AS cents""")
    def analyzed(d: DataFrame): String =
      d.queryExecution.analyzed.toString.replaceAll("#\\d+", "#")
    // (name, Column arguments, SQL arguments)
    val cases: Seq[(String, Seq[Column], String)] = Seq(
      ("cosine_sim", Seq(col("v"), col("v")), "v, v"),
      ("hyperplane_sig", Seq(col("v"), lit(8)), "v, 8"),
      ("simhash64", Seq(col("words")), "words"),
      ("graft_might_contain", Seq(lit(null).cast("binary"), col("h")),
        "cast(null as binary), h"),
      ("jaro_winkler", Seq(col("s"), col("t")), "s, t"),
      ("nfc_normalize", Seq(col("s")), "s"),
      ("damerau_levenshtein", Seq(col("s"), col("t")), "s, t"),
      ("centroid_argmax", Seq(col("v"), col("cents")), "v, cents"),
      ("top_bigram_count", Seq(col("words")), "words"),
      ("ngram_fingerprints", Seq(col("words"), lit(2)), "words, 2"),
      ("shingle_keys", Seq(col("words"), lit(2)), "words, 2"),
      ("cdc_chunk_spans", Seq(col("words"), lit(4)), "words, 4"),
      ("char_poly_hash", Seq(col("s")), "s"))
    cases.foreach { case (name, args, sqlArgs) =>
      assert(analyzed(df.select(GraftExtensions.call(name, args: _*).as("x"))) ===
        analyzed(df.select(expr(s"$name($sqlArgs)").as("x"))), name)
    }
    // an aggregate is wrapped as the SQL path wraps it
    assert(analyzed(df.agg(GraftExtensions.call("graft_bloom_agg",
        col("h"), lit(100L), lit(800L)).as("x"))) ===
      analyzed(df.agg(expr("graft_bloom_agg(h, 100L, 800L)").as("x"))))
    intercept[IllegalArgumentException](GraftExtensions.call("ngram_fingerprints",
      col("words"), col("h")))
  }
}
