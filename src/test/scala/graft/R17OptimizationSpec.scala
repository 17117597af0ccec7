package graft

import org.apache.spark.sql.functions._

/** Round-17 optimization pass: pins the internals the optimizations
  * changed, so a future refactor cannot silently revert them.
  *
  *  - memoized build-side checkpoints (FuzzyJoin probe grid, DedupOps
  *    shingle set) must be SPREAD across the session's cores before
  *    sealing — a single-partition seal serializes every consumer's
  *    verify/map pipeline (the j8 1.37 s-of-1.76 s finding);
  *  - the broadcast-shaped micro-batch triage
  *    (incrementalDedupIndexed) must stay row-identical to the
  *    shuffle-shaped batch triage (incrementalDedup) it shares an
  *    oracle with. */
class R17OptimizationSpec extends SparkSpec {
  import spark.implicits._

  private val width = spark.sparkContext.defaultParallelism

  test("fuzzy-join probe memo is sealed at session width, not one partition") {
    graft.ops.FuzzyJoin.probeMemo.clear(); graft.ops.FuzzyJoin.indexMemo.clear()
    val dirty = Seq(1L -> "red widget", 2L -> "blue bolt").toDF("dirty_id", "dirty_name")
    val clean = Seq("red widget", "blue bolt", "hot gear").toDF("entity")
    graft.ops.FuzzyJoin
      .editDistanceJoin(dirty, "dirty_name", Seq("dirty_id"), clean, "entity", 2)
      .count()
    val widths = graft.ops.FuzzyJoin.probeMemo.values.map(_.rdd.getNumPartitions)
    assert(widths.nonEmpty, "probe memo not populated")
    assert(widths.forall(_ == width),
      s"probe checkpoint widths $widths != defaultParallelism $width")
  }

  test("shingle memo is sealed at session width, not one partition") {
    graft.ext.DedupOps.shingleMemo.clear(); graft.ext.DedupOps.commonMemo.clear()
    val docs = Tables.documents(spark, sfDir)
    graft.ext.DedupOps.ngramJaccardTopPairs(docs, 3, 5).count()
    val widths = graft.ext.DedupOps.shingleMemo.values.map(_.rdd.getNumPartitions)
    assert(widths.nonEmpty, "shingle memo not populated")
    assert(widths.forall(_ == width),
      s"shingle checkpoint widths $widths != defaultParallelism $width")
  }

  test("broadcast-shaped indexed triage equals the shuffle-shaped batch triage") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select("doc_id", "text")
    val increment = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select("doc_id", "text")
      .union(corpus.filter(pmod(col("doc_id"), lit(7)) === 3)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val idx = graft.ext.DedupOps.corpusIndex(corpus, 3)
    val viaIndex = graft.ext.DedupOps
      .incrementalDedupIndexed(increment, idx, 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val viaBatch = graft.ext.DedupOps
      .incrementalDedup(increment, corpus, 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(viaIndex.sameElements(viaBatch),
      "indexed (broadcast) triage diverged from the batch (shuffle) triage")
    assert(viaIndex.nonEmpty)
  }
}
