package graft.tools

import org.apache.spark.sql.SparkSession

/** Prints physical plans for representative queries — the scale audit:
  * filters pushed to the parquet scan, projections pruned, dims broadcast,
  * aggregates partial'd, no stray shuffles. The project's one plan
  * printer: named queries print their formatted plans,
  * `sbt "runMain graft.tools.PlanAudit /root/testdata/sf0.01 q6_filtered_agg j1_broadcast_enrich"`;
  * `--summary` prints PLANS.md's table (`tools/gate.sh` checks it with
  * `tools/plans_check.py`); `--aqe-skew` runs the runtime skew audit.
  */
object PlanAudit {

  /** Streaming/composite queries execute a full job on construction —
    * excluded from the static plan summary (their semantics are graded by
    * the oracle + streaming specs instead). */
  private val nonStatic = Set(
    "t1_stream_recover", "t2_stream_hourly_window", "t3_stream_cumulative",
    "t4_stream_late_drop",
    "t3b_wire_tally", "t5_stream_dedup_users",
    "t5b_stream_dedup_watermarked", "t8_stream_asof", "t9_stream_sessions",
    "t10_stream_stream_join", "t11_stream_funnel", "t12_stream_quality_gate",
    "t13_stream_scd2", "t14_stream_decontaminate",
    "t15_stream_timeout_sessions", "t16_stream_sliding_window",
    "t17_stream_dead_letter", "t17b_dead_letter_skew_triage",
    "t18_stream_sketch_maintain",
    "t19_stream_ohlc_maintain",
    "t20_stream_left_outer_join", "t21_stream_leaderboard",
    "t22_stream_merge_delete", "t23_stream_drift_psi",
    "t24_stream_nfc_dedup", "t25_stream_rocksdb_dedup",
    "t26_stream_transform_with_state", "t27_state_source_read",
    "t28_stream_state_upgrade", "t29_stream_ivf_ingest",
    "t29b_stream_ivf_batch_serve", "t30_stream_tws_timer_sessions",
    "t31_stream_available_now", "t32_stream_tws_map_state",
    "t33_stream_tws_list_state", "t34_stream_tws_ttl",
    "t35_stream_changelog_recover", "t36_stream_full_outer_join",
    "t37_stream_tws_initial_state", "t38_stream_semi_join",
    "t39_tws_state_source_read", "t40_stream_right_outer_join",
    "t41_state_time_travel", "t42_stream_chained_agg",
    "t43_stream_observe", "t44_stream_dynamic_sessions",
    "t45_stream_canonical_dedup", "t46_stream_concurrent_queries",
    "t47_stream_corpus_recover", "t48_stream_two_hop",
    "t49_stream_dedup_evicted", "t50_stream_mm_gate",
    "t51_stream_schema_drift", "t52_stream_two_hop_lineage",
    "t53_stream_incremental_dedup", "t54_stream_audio_gate",
    "t55_stream_video_gate",
    "s8_write_then_emit", "s9_file_sink_exactly_once",
    "s10_wire_emit_exactly_once",
    "s5c_jdbc_upsert_replay", "s5d_jdbc_txnlog_replay", "s4_avro_source",
    "vote_e2e_stream_tally", "vote_e2e_live_results", "vote_e2e_reemit",
    // composite: probes the finished CMS on the driver (k-bounded)
    "sketch_cms_heavy",
    // composite: runs the checkpointed propagation loop on construction —
    // the final frame is a sort over the last checkpoint, not the loop
    "graph_pagerank_neardup",
    // composite: runs the 8-round merge loop on construction — the final
    // frame is the collected merge table, not the loop (the encode and
    // roundtrip seats carry the family's static plans; both train
    // through the same memo on construction)
    "text_bpe_merges",
    // composite: runs the GD iterations on construction — the returned
    // frame is the collected weight table (quality_lr_score carries the
    // family's static serving plan: one shuffle-free scan)
    "quality_lr_train",
    // composite: runs the level-synchronous frontier loop on construction
    "graph_hops_to_canonical",
    // composite: builds the truth-memo edge view on construction
    "s6b_recursive_cte",
    // composite: a SQL script EXECUTES eagerly (statement by statement)
    // on construction; the returned frame is the final SELECT's result
    "s6d_sql_scripting",
    // composite: materialized INSIDE their conf scope (optimizer confs are
    // read at action time), so the returned frame is a scratch-parquet
    // scan; the interesting plans are pinned by BloomFilterJoinSpec/CboSpec
    "j9_bloom_join", "storage_cbo_stats",
    // composite: runs the sink write on construction; the returned frame
    // is the CSV readback
    "s7d_sink_commit",
    // streaming: drives the connector's MicroBatchStream on construction
    "s7e_stream_source")

  /** `--summary <dir>`: one markdown row of physical-plan features per
    * query — shuffle count, join strategies, parquet pushdown, codegen. */
  def summary(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    println("| query | exchanges | broadcast joins | sort-merge joins | pushed filters | codegen spans |")
    println("|---|---|---|---|---|---|")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => nonStatic(n) }
      .foreach { case (name, fn) =>
        try {
          val p = fn(spark, dir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          def n(rx: String) = rx.r.findAllIn(p).size
          val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(p).size
          val shuffles = n("\\(\\d+\\) Exchange")
          val codegen = "codegen id : (\\d+)".r.findAllMatchIn(p)
            .map(_.group(1).toInt).toSet.size
          println(s"| $name | $shuffles | ${n("\\(\\d+\\) BroadcastHashJoin")} | " +
            s"${n("\\(\\d+\\) SortMergeJoin")} | $pushed | $codegen |")
        } catch { case e: Throwable => println(s"| $name | (failed: ${e.getMessage.take(60)}) |||||") }
      }
  }

  /** `--aqe-skew`: the runtime half of the skew story. Executes the
    * graded `j7c_aqe_skew_join` frame with AQE on and the skew thresholds
    * scaled to the fixture's shuffle sizes (production keeps the 256 MB
    * default), then reports whether OptimizeSkewedJoin split the hot
    * partition — the delta vs the static summary, where the same join is
    * one unsplit SMJ. */
  def aqeSkewAudit(spark: SparkSession, dir: String): Unit = {
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    graft.streaming.StreamOps.withConf(spark, confs) {
      import org.apache.spark.sql.functions._
      // AQE splits a skewed reduce partition into MAPPER ranges, so a
      // probe side scanned as one local file (one mapper) is
      // unsplittable no matter the thresholds; the repartition stands in
      // for the thousands of scan mappers a 100 TB probe side has
      val ev = graft.ops.Joins.injectSkewKey(graft.Tables.events(spark, dir))
        .repartition(8, col("event_id"))
      val cust = graft.Tables.customer(spark, dir)
        .select("c_custkey", "c_mktsegment")
      val joined = graft.ops.Joins
        .skewJoinAqe(ev, cust, "skew_key", "c_custkey")
      // collect() drives joined's OWN QueryExecution (count() would plan
      // a separate clone), so the adaptive plan read below is the final,
      // post-reoptimization one; the fixture join output is bounded
      val rows = joined.collect().length
      val plan = joined.queryExecution.executedPlan.toString
      val marks = "skew=\\[?true".r.findAllIn(plan.toLowerCase).size
      println(s"\n## AQE skew-join audit (j7c_aqe_skew_join at $dir)")
      println(s"- joined rows: $rows")
      println(s"- skew markers in final adaptive plan: $marks " +
        (if (marks > 0) "(hot partition SPLIT at runtime)"
         else "(NO split — check thresholds vs fixture shuffle size)"))
      plan.linesIterator.filter(_.toLowerCase.contains("skew"))
        .take(4).foreach(l => println(s"    ${l.trim.take(160)}"))
    }
  }

  def main(args: Array[String]): Unit = {
    val summaryMode = args.contains("--summary")
    val aqeSkewMode = args.contains("--aqe-skew")
    val rest = args.filterNot(a => a == "--summary" || a == "--aqe-skew")
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val which = rest.drop(1).toSet
    val spark = graft.TmpDirs.session("4", aqeByDefault = false)
    // T7 plan-stability mode (the reference disables AQE too,
    // spark-streaming.py:27): final plans, codegen spans visible — set
    // after the factory so an exported SPARK_GRAFT_AQE=1 cannot change
    // the audited plans
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    if (aqeSkewMode) { aqeSkewAudit(spark, dir); spark.stop(); return }
    if (summaryMode) { summary(spark, dir); spark.stop(); return }
    graft.SparkEntry.queries
      .filter { case (name, _) => which.isEmpty || which(name) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try println(fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
      }
    spark.stop()
  }
}
